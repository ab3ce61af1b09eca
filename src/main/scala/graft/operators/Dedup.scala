package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.VectorFunctions

/** Deduplication operators for training-data pipelines, designed
  * shuffle-first for 100 TB:
  *
  *  - exact:     one hash-aggregate on a 32-byte fingerprint (never
  *               groups by the raw text — the shuffle carries digests,
  *               not documents).
  *  - minhash:   shingle → minhash signature → banded LSH; candidate
  *               generation is an equi-join on (band, band slice) so it
  *               shuffles only slim (id, band, 4 longs) rows;
  *               verification joins the shingle sets back by id. Classic
  *               MMDS ch.3 scheme; the signature arithmetic is
  *               SQL-replicable by design (VectorExprs.minhashSig) so
  *               the whole pipeline is oracle-checkable.
  *  - simhash:   60-bit simhash (md5-prefix token hash, SQL-replicable),
  *               pigeonhole banding into 4×15-bit chunks (any pair
  *               within hamming ≤3 shares at least one chunk), verified
  *               with bit_count(xor).
  *  - ngram:     inverted-index jaccard — explode distinct n-grams,
  *               equi-join on the n-gram, count shared per pair.
  *  - embedding: Rademacher sign-projection LSH buckets, verified with native
  *               cosine.
  *
  * Every candidate join keys on a<b to emit each unordered pair once.
  * Skew note: hot LSH buckets (very common shingles/chunks) are the skew
  * risk at scale — AQE skew-join handles moderate cases; the exact ngram
  * join is anti-skew by construction (prefix filter keys on RARE
  * shingles), and minhash bounds verification volume via the
  * signature-estimate prefilter.
  */
object Dedup {

  /** Exact dedup over a normalized fingerprint: one aggregate, returns
    * (text_hash, keep_id = min id, dup_count).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(TextFunctions.fingerprint(col(textCol)).as("text_hash"), col(idCol))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Rows the exact pass would drop (dup_count > 1 ⇒ all but keep_id). */
  def exactDropList(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = df.select(col(idCol),
      TextFunctions.fingerprint(col(textCol)).as("text_hash"))
    val keep = fp.groupBy("text_hash").agg(min(col(idCol)).as("keep_id"))
    fp.join(keep, "text_hash").filter(col(idCol) =!= col("keep_id"))
      .select(col(idCol).as("drop_id"), col("keep_id"))
  }

  /** MinHash+LSH near-duplicate pairs with verified true Jaccard.
    * Returns (id_a, id_b, jaccard), id_a < id_b, jaccard ≥ threshold.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    // hung-job guard: derive shuffle width from the input when the
    // session never set one (no-op under any explicit configuration)
    Tune.ensureShufflePartitions(df)

    val shingled = df.select(col(idCol).as("id"),
      TextFunctions.wordShingles(col(textCol), shingleN).as("shingles"))
      .filter(size(col("shingles")) > 0)
    val sigs = shingled.select(col("id"),
      VectorFunctions.minhashSignature(col("shingles"), numHashes).as("sig"))

    // band rows: (id, band, slice of sig) — small fixed width. The join
    // keys on the RAW slice (rows minima), not a hash of it: identical
    // candidate semantics to any engine replicating the signatures, no
    // hash-collision caveat, and the shuffle key is still tiny.
    val banded = sigs.select(col("id"), explode(sequence(lit(0), lit(bands - 1))).as("band"),
        col("sig"))
      .select(col("id"), col("band"),
        slice(col("sig"), col("band") * rows + 1, lit(rows)).as("band_key"))

    val a = banded.as("a")
    val b = banded.as("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    // cheap prefilter BEFORE the expensive exact verify: estimate jaccard
    // from the signatures themselves (matching minima / numHashes,
    // stderr ≈ sqrt(t(1-t)/k)); keep candidates within 3σ of threshold.
    // Kills the moderately-similar candidate flood without losing true
    // pairs (margin is generous), then exact jaccard decides.
    val margin = 3.0 * math.sqrt(threshold * (1 - threshold) / numHashes)
    val siga = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val sigb = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
    val estimated = candidates.join(siga, "id_a").join(sigb, "id_b")
      .withColumn("est",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes)
      .filter(col("est") >= threshold - margin)
      .select("id_a", "id_b")

    verifyJaccard(estimated, shingled, threshold)
  }

  /** True-Jaccard verification: join shingle sets back, intersect/union. */
  private def verifyJaccard(pairs: DataFrame, shingled: DataFrame,
      threshold: Double): DataFrame = {
    val sa = shingled.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val sb = shingled.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    pairs.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard",
        graft.functions.TextExprs.jaccardSim(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Per-document 60-bit SimHash (native codegen'd expression;
    * md5-prefix token hash, SQL-replicable — VectorExprs.simhash).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      VectorFunctions.simhash64(TextFunctions.tokens(col(textCol))).as("simhash"))

  /** SimHash near-dup pairs within hamming distance `maxHamming` — an
    * EXACT result by pigeonhole: the 60 signature bits split into
    * `maxHamming + 1` contiguous chunks, so any pair with ≤ maxHamming
    * differing bits must share at least one whole chunk and is surfaced
    * by the chunk equi-join (then verified with bit_count(xor); pairs
    * beyond maxHamming are filtered, never guessed). The default
    * maxHamming=3 gives the classic 4-chunk banding; larger thresholds
    * get proportionally more, narrower chunks — more candidate rows,
    * same guarantee.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val bits = graft.functions.VecOps.SimhashBits
    val chunks = math.min(maxHamming + 1, bits)
    val sigs = simhash(df, idCol, textCol)
    // chunk i covers bits [i*bits/chunks, (i+1)*bits/chunks) — a
    // disjoint cover, widths differ by at most one bit
    val chunked = sigs.select(col("id"), col("simhash"),
        explode(sequence(lit(0), lit(chunks - 1))).as("chunk"))
      .withColumn("chunk_val", expr(
        s"shiftright(simhash, cast((chunk * $bits) div $chunks as int)) & " +
          s"(shiftleft(1L, cast(((chunk + 1) * $bits) div $chunks as int) " +
          s"- cast((chunk * $bits) div $chunks as int)) - 1)"))
    val a = chunked.as("a")
    val b = chunked.as("b")
    // (sh_a, sh_b) are functionally determined by (id_a, id_b), so the
    // distinct dedupes multi-chunk collisions BEFORE hamming is computed
    // — one bit_count per pair, not per collision.
    a.join(b,
        col("a.chunk") === col("b.chunk") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** n-gram Jaccard near-dup pairs — EXACT result (same output as the
    * naive all-shared-shingles join) via prefix filtering from the
    * set-similarity-join literature (AllPairs/PPJoin, Bayardo et al.
    * WWW'07, public): for jaccard ≥ t, two sets must share at least one
    * of each other's first ⌊(1-t)·|s|⌋+1 shingles under a global
    * rarest-first ordering. Candidates come from joining only those
    * prefixes (rare shingles → tiny buckets → no skew), then true
    * jaccard is verified on the full shingle arrays.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // hung-job guard (the 5M-doc postmortem's operator): size the
    // shuffle width from the input when the session never set one
    Tune.ensureShufflePartitions(df)

    val shingled = df.select(col(idCol).as("id"),
      TextFunctions.wordShingles(col(textCol), n).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("n_sh", size(col("shingles")))

    // every wide stage below keys on the shingle's 64-bit hash, never
    // the string — and since round 9 the string does not RIDE any wide
    // stage either: at 5M docs the freq join + rank window shuffle
    // ~750M shingle rows, and a ~30-byte n-gram on each row is ~2.5×
    // the bytes of the (id, n_sh, h, df) it decorates (measured: the
    // string-carrying plan exceeded this sandbox's 79 GB spill budget;
    // the hash-only plan fits). Exactness is preserved:
    //  (a) df(hash) merging under a collision only perturbs the
    //      rarest-first order — any consistent order satisfies the
    //      prefix theorem;
    //  (b) the rank is `rank()` over (df, h) WITH ties kept, so when
    //      two distinct shingles collide in both df and h, every
    //      document keeps ALL boundary ties in its prefix. Each prefix
    //      is then a SUPERSET of the prefix under any total order
    //      extending (df, h) — e.g. (df, h, shingle) — and the prefix
    //      theorem guarantees intersecting prefixes under that total
    //      order, so the candidate set is a superset of the exact one;
    //  (c) supersets are erased by the exact-jaccard verify below.
    // Collision-free (the overwhelming case), rank() over (df, h) is
    // row_number() over (df, h, shingle) exactly: shingles are distinct
    // within a document, so ties require a true 64-bit collision.
    val exploded = shingled
      .select(col("id"), col("n_sh"), explode(col("shingles")).as("sh"))
      .select(col("id"), col("n_sh"), xxhash64(col("sh")).as("h"))
    val freq = exploded.groupBy("h").agg(count(lit(1)).as("df"))

    // rarest-first rank of each shingle within its document. (Measured
    // alternative: collect_list+array_sort+slice per doc — 1.5× SLOWER
    // than the window at sf0.1; struct array allocation costs more than
    // the window's sort saves.)
    val ranked = exploded.join(freq, "h")
      .withColumn("rk", rank().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("df").asc, col("h").asc)))
    val prefix = ranked.filter(
        col("rk") <= floor(lit(1.0 - threshold) * col("n_sh")) + 1)
      .select(col("id"), col("n_sh"), col("h"))

    val a = prefix.as("a")
    val b = prefix.as("b")
    val candidates = a.join(b,
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          // length filter: |a|·t ≤ |b| (size ratio bound for jaccard ≥ t)
          col("b.n_sh") * threshold <= col("a.n_sh") &&
          col("a.n_sh") * threshold <= col("b.n_sh"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    val sa = shingled.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val sb = shingled.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    candidates.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard",
        graft.functions.TextExprs.jaccardSim(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric (probe-vs-index) exact n-gram Jaccard: near-dup pairs
    * BETWEEN an incoming batch and a standing corpus, never within
    * either side — the continuous-ingest shape. [[ngramJaccardPairs]]
    * over the union would pay the corpus×corpus work on every arrival;
    * this computes corpus-side structures once per corpus version and
    * joins only batch-prefix × corpus-prefix.
    *
    * Correctness under a FROZEN corpus ordering: the AllPairs prefix
    * theorem needs both prefixes taken under ONE total order of the
    * shingle universe — ANY consistent order is exact (rarest-first is
    * the performance heuristic, not a correctness requirement). Both
    * sides therefore rank by (corpus df, h): the corpus prefixes and
    * df table are computable ONCE at index-build time, and a batch
    * shingle unseen in the corpus takes df 0 — sorted rarest, so it
    * can only ENLARGE the batch prefix, never drop a candidate.
    *
    * 100 TB shape: the persisted index is three frames — the df table
    * (keyed by h), the corpus prefix rows (bucketed by h), and the
    * corpus shingle arrays (bucketed by id, for the verify join); an
    * arriving batch computes its own side fresh (narrow, batch-sized)
    * and every join keys on the index's bucket layout, so only the
    * batch moves. Returns (id_batch, id_corpus, jaccard ≥ threshold).
    */
  def ngramJaccardPairsAcross(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // one-shot form of the persisted-index pair: build the corpus
    // frames in-plan, probe immediately (identical rows to the
    // write/read paths — asserted in PipelineSpec)
    val (dfC, prefixC, shC) = ngramIndexFrames(corpus, idCol, textCol, n,
      threshold)
    probeNgramFrames(dfC, prefixC, shC, batch, idCol, textCol, n, threshold)
  }

  /** Persist the corpus side of [[ngramJaccardPairsAcross]] as an
    * on-disk index — the amortization half of the continuous-ingest
    * story. The asymmetric probe saves candidate-join mass, but the
    * corpus-side work (shingling, df agg, prefix ranking) still
    * dominates a one-shot call (measured: 21 s of the 500k-doc probe's
    * wall is index build); writing it once per corpus version makes
    * each arriving batch pay only its own (batch-sized) side.
    *
    * Layout under `path`: `df/` (h, df — the frozen global order),
    * `prefix/` (id, n_sh, h — repartitioned by h, the probe join key,
    * so a metastore deployment can declare it bucketed), `shingles/`
    * (id, shingles, n_sh — the verify side, clustered by id). `n` and
    * `threshold` shape the prefix rows, so they are part of the index:
    * the `df/` dir records them ([[ngramIndexMeta]]) after all three
    * writes, and the probe replays them.
    */
  def writeNgramIndex(corpus: DataFrame, path: String, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.5): Unit = {
    val (dfC, prefix, shC) = ngramIndexFrames(corpus, idCol, textCol, n,
      threshold)
    persistIndexFrames(dfC, shC)
    try {
      materializeIndexFrames(dfC)
      awaitAll(corpus.sparkSession, Seq(
        () => IndexVersions.writeParquet(dfC, s"$path/df"),
        () => IndexVersions.writeParquet(prefix.repartition(col("h")),
          s"$path/prefix"),
        () => IndexVersions.writeParquet(shC.repartition(col("id")),
          s"$path/shingles")))
    } finally unpersistIndexFrames(dfC, shC)
    writeNgramMeta(corpus.sparkSession, s"$path/df", n, threshold)
  }

  private val NgramMetaFile = "_graft_ngram_meta.json"

  /** Record (n, threshold) in the index's df dir — written last, so a
    * build that did not finish has no record. Both writers replace the
    * df dir first, so a rebuild never keeps an older record. */
  private def writeNgramMeta(spark: SparkSession, dfDir: String, n: Int,
      threshold: Double): Unit =
    IndexVersions.writeLayout(spark, dfDir, NgramMetaFile, "n" -> n,
      "threshold" -> threshold)

  /** The (n, threshold) an n-gram index was built with, from the record
    * in its df dir (`<path>/df`, or the committed generation's `_df`
    * table dir) — refused with the path and "rebuild" when it has
    * none: PPJoin's prefix length is a function of the threshold, so a
    * probe at any other (n, threshold) silently finds other pairs. */
  private[graft] def ngramIndexMeta(spark: SparkSession,
      dfDir: String): (Int, Double) = {
    val r = IndexVersions.layout(spark, dfDir, NgramMetaFile)
    (r.int("n"), r.double("threshold"))
  }

  /** The df table dir of the committed generation of the bucketed
    * n-gram index under `tablePrefix`. */
  private[graft] def ngramDfDir(spark: SparkSession,
      tablePrefix: String): String =
    IndexVersions.tableRoot(spark,
      s"${IndexVersions.resolveTablePrefix(spark, tablePrefix)}_df")

  /** Force the pinned parents ONCE before the concurrent writes: the
    * count over the pinned df table materializes the shC cache on the
    * way (its plan explodes the cached shingle arrays), so the three
    * writes below read caches instead of racing to compute them —
    * concurrent first-touch of an uncached partition computes it once
    * per touching job. One job: tokenize once, aggregate df once. */
  private def materializeIndexFrames(dfC: DataFrame): Unit =
    dfC.count(): Unit

  /** Run independent bounded write jobs concurrently (guide §2.6 —
    * overlap independent jobs): Spark schedules concurrent jobs FIFO,
    * so a later write's tasks back-fill executor slots as the earlier
    * write's task tail drains instead of leaving the cluster idle
    * behind each write barrier. Every job runs under one job tag: the
    * FIRST failure (in completion order) cancels the tag, so sibling
    * writes stop instead of writing on after the caller has seen the
    * error; a sibling not yet started is skipped. Returns or rethrows
    * only after every job has ended. */
  private[graft] def awaitAll(spark: SparkSession,
      jobs: Seq[() => Unit]): Unit = {
    if (jobs.lengthCompare(1) <= 0) { jobs.foreach(_.apply()); return }
    val sc = spark.sparkContext
    val tag = s"graft-await-${java.util.UUID.randomUUID()}"
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(jobs.length)
    val done = new java.util.concurrent.ExecutorCompletionService[Unit](pool)
    try {
      jobs.foreach(j => done.submit(() => if (!failed.get()) {
        sc.addJobTag(tag)
        try j() finally sc.removeJobTag(tag)
      }))
      var first: Option[Throwable] = None
      jobs.foreach { _ =>
        try done.take().get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (first.isEmpty) {
              first = Some(e.getCause)
              failed.set(true)
              sc.cancelJobsWithTag(tag, "a sibling write failed")
            }
        }
      }
      first.foreach(e => throw e)
    } finally pool.shutdownNow(): Unit
  }

  /** The three index-table writes each re-execute their shared upstream
    * (tokenize → shingle-explode → df aggregate) when the frames are
    * lazy: the corpus was tokenized three times per build. Pin the two
    * frames every write's plan contains — `shC` (tokenized shingle
    * arrays; source of the explode) and `dfC` (the h→df table) — for
    * the duration of the writes, so a build tokenizes the corpus ONCE
    * and aggregates df ONCE (measured: 3.35 s → 2.2 s warm rebuild at
    * sf0.1; the 5M-doc build saves a full tokenize+explode pass).
    * MEMORY_AND_DISK: both frames spill rather than OOM on a big
    * corpus; the exploded (id, n_sh, h) frame is deliberately NOT
    * pinned — it is corpus-tokens-sized, and re-exploding from the
    * cached arrays is pure CPU, no I/O.
    */
  private def persistIndexFrames(dfC: DataFrame, shC: DataFrame): Unit = {
    shC.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dfC.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): Unit
  }

  private def unpersistIndexFrames(dfC: DataFrame, shC: DataFrame): Unit = {
    dfC.unpersist(blocking = false)
    shC.unpersist(blocking = false): Unit
  }

  /** Probe a [[writeNgramIndex]] index with an arriving batch: same
    * output contract as [[ngramJaccardPairsAcross]] (the frozen
    * (corpus-df, h) order is IN the index, so results are identical —
    * asserted in PipelineSpec), but the corpus-side work is a read.
    *
    * `n` and `threshold` are the ones the index recorded.
    *
    * NOTE plain parquet loses its partitioning on read, so this probe
    * re-shuffles the index frames per call (measured 98 s cold / 29 s
    * warm vs 48 s build at 500k docs); [[probeNgramIndexBucketed]] is
    * the layout that actually makes probes cheap.
    */
  def probeNgramIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val (n, threshold) = ngramIndexMeta(spark, s"$path/df")
    probeNgramFrames(IndexVersions.readParquet(spark, Seq(s"$path/df")),
      IndexVersions.readParquet(spark, Seq(s"$path/prefix")),
      IndexVersions.readParquet(spark, Seq(s"$path/shingles")),
      batch, idCol, textCol, n, threshold)
  }

  /** [[writeNgramIndex]] into BUCKETED catalog tables
    * (`<tablePrefix>_df` / `_prefix` bucketed by `h`, `_shingles`
    * bucketed by `id`): bucketing survives the write/read boundary, so
    * a probe's joins read the index WITHOUT re-shuffling it — only the
    * (small) arriving batch moves. This is the 100 TB layout; the plain
    * parquet variant exists for catalog-less portability.
    *
    * `buckets` ≤ 0 (the default) derives the count from the corpus size
    * ([[Tune.scaledBuckets]]: ~one bucket per 50k docs, floored at the
    * core count — `knownCount` skips the count job when the caller
    * already has the row count). A FIXED count tuned at one corpus size
    * caps build and probe parallelism a decade later; the count
    * actually used is recorded per table in a `_graft_buckets.json`
    * sidecar ([[Bucketed.writeBucketed]]) that attach/probe sessions
    * self-configure from, and `n`/`threshold` in the `_df` table dir
    * ([[ngramIndexMeta]]) after all three writes, before the pointer
    * of a compaction flips.
    */
  def writeNgramIndexBucketed(corpus: DataFrame, tablePrefix: String,
      idCol: String, textCol: String, n: Int = 3,
      threshold: Double = 0.5, buckets: Int = 0,
      knownCount: Long = -1L): Unit = {
    val b =
      if (buckets > 0) buckets
      else Tune.scaledBuckets(
        if (knownCount >= 0) knownCount else corpus.count(),
        math.max(1, corpus.sparkSession.sparkContext.defaultParallelism))
    val (dfC, prefix, shC) = ngramIndexFrames(corpus, idCol, textCol, n,
      threshold)
    // one tokenize + one df aggregate per build, not three/two — see
    // persistIndexFrames; the three table writes then run as CONCURRENT
    // jobs over the pinned frames (awaitAll — each write alone funnels
    // into ≤ buckets tasks, so overlapping them is what keeps the
    // cluster busy through the per-write task tails)
    persistIndexFrames(dfC, shC)
    try {
      materializeIndexFrames(dfC)
      awaitAll(corpus.sparkSession, Seq(
        () => Bucketed.writeBucketed(dfC, s"${tablePrefix}_df", "h", b),
        () => Bucketed.writeBucketed(prefix, s"${tablePrefix}_prefix", "h",
          b),
        () => Bucketed.writeBucketed(shC, s"${tablePrefix}_shingles", "id",
          b)))
    } finally unpersistIndexFrames(dfC, shC)
    writeNgramMeta(corpus.sparkSession,
      IndexVersions.tableRoot(corpus.sparkSession, s"${tablePrefix}_df"), n,
      threshold)
    // a FRESH flat build resets the prefix to generation zero: a stale
    // version pointer from an earlier compaction would silently shadow
    // the tables just written. Cleared LAST — while the three writes
    // are in flight, the stale pointer is exactly what keeps readers on
    // the committed generation N; clearing it first would resolve them
    // to the half-written bare-prefix tables in the crash window
    // (pointer-flip-last discipline, see IndexVersions)
    IndexVersions.clearPointer(corpus.sparkSession,
      IndexVersions.tableRoot(corpus.sparkSession, tablePrefix))
  }

  /** Attach a session to a [[writeNgramIndexBucketed]] index built by
    * an earlier session (in-memory catalog: the entries died with that
    * JVM, the bucketed warehouse data did not). Metadata-only: each
    * table's bucket count comes from its record
    * ([[Bucketed.registerBucketed]]). True iff all three tables are
    * usable — when a table's data is missing nothing is attached and
    * the caller rebuilds.
    */
  def attachNgramIndexBucketed(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): Boolean = {
    // a compacted index resolves through its version pointer to the
    // committed generation's tables (IndexVersions); legacy = the bare
    // prefix. Generation N−1 tables stay behind as the rollback target.
    val p = IndexVersions.resolveTablePrefix(spark, tablePrefix)
    val ok =
      Bucketed.registerBucketed(spark, s"${p}_df", "h") &&
      Bucketed.registerBucketed(spark, s"${p}_prefix", "h") &&
      Bucketed.registerBucketed(spark, s"${p}_shingles", "id")
    if (!ok) Seq("df", "prefix", "shingles").foreach { s =>
      spark.sql(s"DROP TABLE IF EXISTS ${p}_$s"): Unit
    }
    ok
  }

  /** Probe a [[writeNgramIndexBucketed]] index — identical rows to
    * [[probeNgramIndex]]; the index side of every join is a bucketed
    * scan (no Exchange on it, asserted in PipelineSpec). Resolves the
    * COMMITTED index generation per call (and re-attaches it if this
    * session hasn't yet), so a probe issued right after a compaction
    * pointer flip reads version N+1 with no caller involvement, at the
    * `n` and `threshold` that generation recorded.
    */
  def probeNgramIndexBucketed(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val p = IndexVersions.resolveTablePrefix(spark, tablePrefix)
    if (!spark.catalog.tableExists(s"${p}_df"))
      require(attachNgramIndexBucketed(spark, tablePrefix),
        s"no usable bucketed n-gram index under table prefix $tablePrefix")
    // the record of the very generation whose tables the probe reads
    val (n, threshold) = ngramIndexMeta(spark,
      IndexVersions.tableRoot(spark, s"${p}_df"))
    probeNgramFrames(spark.table(s"${p}_df"),
      spark.table(s"${p}_prefix"),
      spark.table(s"${p}_shingles"),
      batch, idCol, textCol, n, threshold)
  }

  /** The corpus-side index structures: (df table, prefix rows, shingle
    * arrays) — shared by the parquet and bucketed writers.
    */
  private def ngramIndexFrames(corpus: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    // covers every index build / one-shot-across entry: the corpus-side
    // df agg + rank window is the widest stage of the family
    Tune.ensureShufflePartitions(corpus)
    val shC = corpus
      .select(col(idCol).as("id"),
        TextFunctions.wordShingles(col(textCol), n).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("n_sh", size(col("shingles")))
    val exC = shC
      .select(col("id"), col("n_sh"), explode(col("shingles")).as("sh"))
      .select(col("id"), col("n_sh"), xxhash64(col("sh")).as("h"))
    val dfC = exC.groupBy("h").agg(count(lit(1)).as("df"))
    val ranked = exC.join(dfC, "h")
      .withColumn("rk", rank().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("df").asc, col("h").asc)))
    val prefix = ranked
      .filter(col("rk") <= floor(lit(1.0 - threshold) * col("n_sh")) + 1)
      .select(col("id"), col("n_sh"), col("h"))
    (dfC, prefix, shC)
  }

  private def probeNgramFrames(dfC: DataFrame, prefixC: DataFrame,
      shC: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val shB = batch
      .select(col(idCol).as("id"),
        TextFunctions.wordShingles(col(textCol), n).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("n_sh", size(col("shingles")))
    val exB = shB
      .select(col("id"), col("n_sh"), explode(col("shingles")).as("sh"))
      .select(col("id"), col("n_sh"), xxhash64(col("sh")).as("h"))
    val rankedB = exB.join(dfC, Seq("h"), "left")
      .withColumn("dfo", coalesce(col("df"), lit(0L)))
      .withColumn("rk", rank().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("dfo").asc, col("h").asc)))
    val prefixB = rankedB
      .filter(col("rk") <= floor(lit(1.0 - threshold) * col("n_sh")) + 1)
      .select(col("id"), col("n_sh"), col("h"))
    val candidates = prefixB.as("b").join(prefixC.as("c"),
        col("b.h") === col("c.h") &&
          col("c.n_sh") * threshold <= col("b.n_sh") &&
          col("b.n_sh") * threshold <= col("c.n_sh"))
      .select(col("b.id").as("id_batch"), col("c.id").as("id_corpus"))
      .distinct()
    val sb = shB.select(col("id").as("id_batch"), col("shingles").as("sh_b"))
    val sc = shC.select(col("id").as("id_corpus"), col("shingles").as("sh_c"))
    candidates.join(sb, "id_batch").join(sc, "id_corpus")
      .withColumn("jaccard",
        graft.functions.TextExprs.jaccardSim(col("sh_b"), col("sh_c")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_batch"), col("id_corpus"), col("jaccard"))
  }

  /** Incremental NEAR-dup ingest filter: rows of `batch` with no corpus
    * near-duplicate at `threshold` ([[ngramJaccardPairsAcross]] probe +
    * one anti-join). The near-dup complement of [[incrementalNew]]'s
    * exact-fingerprint filter — a crawler re-fetch with a changed
    * timestamp passes the exact filter but is caught here.
    */
  def incrementalNewNearDup(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val dup = ngramJaccardPairsAcross(corpus, batch, idCol, textCol, n,
      threshold).select(col("id_batch").as(idCol)).distinct()
    batch.select(col(idCol)).join(dup, Seq(idCol), "left_anti")
  }

  /** Incremental NEAR-dup ingest for EMBEDDINGS: rows of `batch` with
    * no sign-bucket near-duplicate (cosine ≥ `threshold`) already in
    * `corpus` — the vector-side mirror of [[incrementalNewNearDup]].
    * Candidates are a batch × corpus equi-join on the exact-integer
    * Rademacher sign bucket, with multi-probe (hamming ≤
    * `probeHamming`) applied on the BATCH side only: the corpus keeps a
    * single frozen signature per row, which is what makes the persisted
    * layout ([[incrementalNewNearDupEmbedDisk]]) write-once/probe-many.
    * Never corpus×corpus — per-arrival cost is batch-sized, the
    * continuous-ingest shape. Candidate generation moves only
    * (id, bucket) rows; vectors join back by id for the cosine verify.
    * Sides are assumed id-disjoint (the ingest contract). Returns the
    * genuinely-new batch rows (`idCol` only).
    */
  def incrementalNewNearDupEmbed(corpus: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, dims: Int, numPlanes: Int = 6,
      threshold: Double = 0.4, probeHamming: Int = 1,
      seed: Long = 42L): DataFrame = {
    val index = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      VectorFunctions.rademacherSig(col(vecCol), numPlanes, dims, seed)
        .as("bucket"))
    val qb = Similarity.probeBuckets(batch, Seq(col(idCol).as("bid")),
      col(vecCol), numPlanes, dims, seed, probeHamming)
    signNearDupNew(index, qb, batch, idCol, vecCol, threshold)
  }

  /** [[incrementalNewNearDupEmbed]] against a PERSISTED
    * [[Similarity.writeSignIndex]] layout — the embedding side of the
    * ingest storage story: the corpus is signed and partitioned by
    * bucket once per corpus version, and each arriving batch probes the
    * index paying only its own (batch-sized) signature work, replaying
    * the planes, dims and seed the index's record names. The scan is
    * directory-pruned to the batch's probe buckets
    * ([[IndexVersions.pruneToProbed]], the [[Similarity.probeSignIndex]]
    * shape); a large arrival batch touches most buckets, so past
    * [[IndexVersions.MaxProbeKeys]] distinct probe buckets it is
    * unpruned — at that occupancy pruning buys nothing anyway.
    */
  def incrementalNewNearDupEmbedDisk(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.4, probeHamming: Int = 1): DataFrame = {
    val (planes, dims, seed) = Similarity.signIndexMeta(spark, path)
    val qb = Similarity.probeBuckets(batch, Seq(col(idCol).as("bid")),
      col(vecCol), planes, dims, seed, probeHamming)
    // the committed generation: compacted indexes resolve through the
    // version pointer (IndexVersions), legacy flat layouts through
    // themselves — same resolution the record read above used
    val index = IndexVersions.pruneToProbed(IndexVersions.readParquet(spark,
        Seq(IndexVersions.resolvePath(spark, path))), qb, "bucket")
      .select(col("id"), col("vec"), col("bucket"))
    signNearDupNew(index, qb, batch, idCol, vecCol, threshold)
  }

  /** Shared verify + anti-join half of the embedding ingest probes:
    * `index` carries (id, vec, bucket) corpus rows (in-plan or read
    * from the persisted layout), `qb` the batch's (bid, bucket) probes.
    */
  private def signNearDupNew(index: DataFrame, qb: DataFrame,
      batch: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val cand = index.select(col("bucket"), col("id").as("cid"))
      .join(qb, Seq("bucket"))
      .select(col("bid"), col("cid")).distinct()
    val dup = cand
      .join(index.select(col("id").as("cid"), col("vec").as("cvec")), "cid")
      .join(batch.select(col(idCol).as("bid"), col(vecCol).as("bvec")),
        "bid")
      .filter(VectorFunctions.cosineSim(col("cvec"), col("bvec"))
        >= threshold)
      .select(col("bid").as(idCol)).distinct()
    batch.select(col(idCol)).join(dup, Seq(idCol), "left_anti")
  }

  /** Incremental ingest filter: rows of `batch` whose normalized
    * fingerprint is NOT already in `corpus` — one left-anti join on
    * 16-byte digests (the shuffle carries hashes, never documents; at
    * scale the corpus side is a persisted fingerprint index bucketed by
    * fp, making arrival batches a co-located anti-join).
    */
  def incrementalNew(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val bf = batch.select(col(idCol),
      TextFunctions.fingerprint(col(textCol)).as("fp"))
    val cf = corpus.select(
      TextFunctions.fingerprint(col(textCol)).as("fp")).distinct()
    bf.join(cf, Seq("fp"), "left_anti").select(col(idCol), col("fp"))
  }

  /** Eagerly materialize a frame and truncate its lineage — the
    * iterative operators' per-round cut, without which the plan grows
    * by one join per iteration (the classic iterative-Spark failure
    * mode). Mode is deployment-derived: when the context has a
    * checkpoint dir configured (`sparkContext.setCheckpointDir`), use a
    * RELIABLE checkpoint — localCheckpoint blocks live on executors, so
    * on a 1000-executor cluster any executor loss mid-iteration kills
    * the job unrecoverably; a reliable checkpoint survives it. With no
    * checkpoint dir (single-box, tests, bench) keep the fast
    * executor-memory localCheckpoint default.
    */
  private def truncateLineage(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Connected components over near-dup pairs → duplicate CLUSTERS.
    *
    * Pair operators emit edges; a curation pipeline needs the cluster
    * each document belongs to (keep one representative per component,
    * drop the rest — pairs alone under-delete transitive chains
    * a~b~c where a~c itself wasn't emitted).
    *
    * Algorithm: the large-star/small-star alternation (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). The
    * graph is held as an adjacency — one (node, nbr) row per direction
    * of each distinct edge, each node's rows in one partition, every
    * row carrying the node's least neighbour, so m = min(node ∪ its
    * neighbours) is a projection. One round is:
    *  - large-star: each neighbour v > u of a node u links to m(u) (a
    *    projection: u's rows sit together);
    *  - small-star: each node v links itself and its smaller neighbours
    *    to their minimum (one shuffle by v);
    *  - re-keying the result by node (one shuffle), then cutting its
    *    lineage with [[truncateLineage]].
    *
    * Stop rule: before each round, stop if the graph is a STAR FOREST —
    * no node has both a smaller neighbour and a second neighbour (no
    * node is both a leaf and a centre, no leaf has two centres). A star
    * forest is a fixpoint of both steps, the rounds preserve
    * connectivity, and each centre is smaller than its leaves, so every
    * node's m is its component's minimum. An input that already is a
    * star forest runs no round, and no round is spent confirming that
    * nothing moved. The test and the node count n are observed
    * (`Dataset.observe`) while each adjacency is checkpointed: neither
    * costs a job.
    *
    * Bound: Kiveris et al. prove the alternation reaches stars within
    * O(log² n) rounds. The constant is this operator's own choice:
    * 2·⌈log₂ n⌉² rounds. A simulation of these rules over every graph
    * of up to 6 nodes, and over random paths and trees of up to 4,096
    * nodes, never took more than ⌈log₂ n⌉ (a 100-node path takes 7 of
    * its 98). Past the bound the operator throws, naming the rounds,
    * the bound and n, instead of returning a truncated answer.
    *
    * Input: (aCol, bCol) pair rows in either orientation, duplicates
    * allowed; a pair with a null end adds nothing, and a self-pair
    * (a, a) adds no node. Output: (id, comp), one row per node of the
    * pairs — comp = min id of its component; nodes absent from pairs
    * don't appear (they were never duplicate candidates).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    var (adj, bad, nodes) = materialize(
      adjacency(pairs.select(col(aCol).as("x"), col(bCol).as("y"))))
    val log2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(nodes, 2L) - 1)
    val bound = 2L * log2 * log2 // 2·⌈log₂ n⌉², see Bound above
    var rounds = 0
    while (bad > 0) {
      if (rounds == bound) throw new IllegalStateException(
        s"connected components: no star forest after $rounds rounds " +
          s"(bound $bound for n = $nodes nodes)")
      val (next, nextBad, _) = materialize(starRound(adj))
      adj = next; bad = nextBad; rounds += 1
    }
    // one row per node: the one whose nbr is the node's least neighbour
    adj.filter(col("nbr") === col("nmin"))
      .select(col("node").as("id"), minLabel.as("comp"))
  }

  /** m = min(node ∪ its neighbours) of an adjacency row. */
  private def minLabel: Column = least(col("node"), col("nmin"))

  /** Undirected edges (x, y) → the adjacency (node, nbr, nmin, bad)
    * that [[connectedComponents]] iterates on: both directions of every
    * distinct non-loop edge, each node's rows in one partition; `nmin`
    * = the node's least neighbour, `bad` = the node has a smaller
    * neighbour and a second one (not a star leaf or centre). */
  private def adjacency(edges: DataFrame): DataFrame = {
    val perNode = org.apache.spark.sql.expressions.Window.partitionBy("node")
    edges.filter(col("x") =!= col("y"))
      .select(inline(array(
        struct(col("x").as("node"), col("y").as("nbr")),
        struct(col("y").as("node"), col("x").as("nbr")))))
      .repartition(col("node")).distinct()
      .select(col("node"), col("nbr"),
        min("nbr").over(perNode).as("nmin"),
        count(lit(1)).over(perNode).as("deg"))
      .select(col("node"), col("nbr"), col("nmin"),
        (col("deg") > 1 && col("nmin") < col("node")).as("bad"))
  }

  /** One large-star + small-star round over an adjacency. */
  private def starRound(adj: DataFrame): DataFrame = {
    val large = adj.filter(col("nbr") > col("node"))
      .select(col("nbr").as("src"), minLabel.as("dst"))
    val m = min("dst").over(
      org.apache.spark.sql.expressions.Window.partitionBy("src"))
    adjacency(large.select(col("src"), col("dst"), m.as("m"))
      .select(inline(array(
        struct(col("src").as("x"), col("m").as("y")),
        struct(col("dst").as("x"), col("m").as("y"))))))
  }

  /** Checkpoint an adjacency ([[truncateLineage]]) and observe, in the
    * same job, its `bad` rows and its nodes: (adjacency, bad, nodes). */
  private def materialize(adj: DataFrame): (DataFrame, Long, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val cut = truncateLineage(adj.observe(obs,
      count(when(col("bad"), 1)).as("bad"),
      count(when(col("nbr") === col("nmin"), 1)).as("nodes")))
    val m = obs.get
    (cut, m("bad").asInstanceOf[Long], m("nodes").asInstanceOf[Long])
  }

  /** The keep-list a dedup stage actually applies: one representative
    * per near-dup cluster (highest `score`, id-ASC tiebreak) plus every
    * singleton document untouched by any pair.
    *
    * Representative choice is a `max_by` over `struct(score, -id)` —
    * one partial-aggregable pass, so a degenerate giant cluster
    * (millions of identical boilerplate pages, the 100 TB reality)
    * combines map-side instead of landing in one window task. The
    * singleton side is an anti-join against the member-id set —
    * NOT hint-broadcast: on a heavily duplicated crawl the member set
    * is a large fraction of the corpus, so the planner must keep the
    * freedom to shuffle it (AQE broadcasts when it is actually small).
    *
    * Output: (keep_id, cluster_id, cluster_size); singletons carry
    * cluster_id = own id, cluster_size = 1.
    */
  def clusterRepresentatives(docs: DataFrame, pairs: DataFrame,
      idCol: String, score: Column): DataFrame = {
    val comp = connectedComponents(pairs)
    val scored = docs.select(col(idCol).as("id"),
      score.cast("double").as("__score"))
    val reps = comp.join(scored, "id")
      .groupBy(col("comp").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        max_by(col("id"), struct(col("__score"), (-col("id")).as("nid")))
          .as("keep_id"))
      .select(col("keep_id"), col("cluster_id"), col("cluster_size"))
    val singles = docs
      .join(comp.select(col("id").as(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol).as("keep_id"), col(idCol).as("cluster_id"),
        lit(1L).as("cluster_size"))
    reps.unionByName(singles)
  }

  /** EXACT cosine near-dup pairs by brute force — the all-pairs
    * definition the LSH/clustered operators approximate. A cartesian
    * product: O(n²) cosines, usable only for small corpora, spec
    * baselines (recall assertions against [[embeddingNearDupPairs]] /
    * [[semanticPairs]]), and oracle construction. At scale use
    * [[embeddingNearDupPairs]] (banded LSH, equi-join candidates).
    * Returns (id_a, id_b, cosine), id_a < id_b, cosine ≥ threshold.
    */
  def exactCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosineSim(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding near-duplicate pairs: BANDED sign-projection LSH (like minhash
    * banding — `bands` independent signatures of `planesPerBand` planes;
    * a pair is a candidate if ANY band matches, so recall is
    * 1-(1-p^r)^b instead of the single-signature p^n) + native cosine
    * verification. Returns (id_a, id_b, cosine) with cosine ≥ threshold.
    *
    * `planesPerBand` DEFAULTS TO AUTO (≤ 0): the plane count is derived
    * from the corpus size via [[scaledPlanes]] (one count job). A fixed
    * plane count tuned at one scale goes quadratic a decade later
    * (candidate mass ∝ n²/2^planes — measured in [[scaledPlanes]]'s
    * doc), so a hand-picked constant is opt-in, for callers that need a
    * replicable signature (the gate's 16×6 config), never the default.
    *
    * `bands` defaults to 16 (round 11 — was 4): as the occupancy rule
    * grows planes with the corpus, a TRUE near-dup's per-band match
    * probability p^planes decays exponentially, and the OR-width is
    * what holds recall (1-(1-p^planes)^bands ≈ 0.99 for a 0.95-cosine
    * dup at 16 bands / 13 planes vs 0.68 at 4 — the [[Similarity.knnJoin]]
    * banding math, and the configuration every measured decade row and
    * both gates actually use). Cost is linear in bands; dial down for
    * cheap sweeps, never for dedup correctness.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dims: Int, threshold: Double = 0.95, bands: Int = 16,
      planesPerBand: Int = 0, seed: Long = 42L): DataFrame = {
    val planes =
      if (planesPerBand > 0) planesPerBand
      else scaledPlanes(df.select(col(idCol)).count())
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // Candidate generation moves ONLY (id, band, sig) — the vectors must
    // not ride the band explode or the self-join shuffle (at scale that
    // multiplies vector bytes by `bands`). Vectors join back by id once,
    // AFTER the pair distinct, so cosine runs exactly once per candidate
    // pair — the same slim-candidates/verify-join split minhashPairs uses.
    val bandCols = (0 until bands).map { bnd =>
      VectorFunctions.rademacherSig(col("vec"), planes, dims,
        seed + bnd * 7919L).as(s"b$bnd")
    }
    val sigs = vecs.select(col("id") +: bandCols: _*)
    val banded = sigs.select(col("id"),
        explode(array((0 until bands).map(bnd =>
          struct(lit(bnd).as("band"), col(s"b$bnd").as("sig"))): _*)).as("bs"))
      .select(col("id"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
    val a = banded.as("a")
    val b = banded.as("b")
    val candidates = a.join(b, col("a.band") === col("b.band") &&
        col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val va = vecs.select(col("id").as("id_a"), col("vec").as("vec_a"))
    val vb = vecs.select(col("id").as("id_b"), col("vec").as("vec_b"))
    candidates.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosineSim(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Planes-per-band for [[embeddingNearDupPairs]]' default: the smallest
    * plane count that holds expected bucket occupancy at or below
    * `targetOccupancy` — `ceil(log2(n / target))`, clamped. Random sign
    * buckets split a corpus of n into ~2^planes cells, so candidate
    * mass per band is ~n²/2^planes: a FIXED plane count tuned at one
    * scale goes quadratic a decade later (measured: 6 planes is 0.8 s
    * at 2k vectors, 16.8 s at 20k, infeasible at 200k — BASELINE.md
    * round-9 ANN decades), while occupancy-held banding stays at
    * 0.6/1.4/11.6 s across the same two decades. This is that policy
    * as code instead of a tuning note.
    */
  def scaledPlanes(n: Long, targetOccupancy: Int = 30, minPlanes: Int = 4,
      maxPlanes: Int = 48): Int = {
    require(targetOccupancy >= 1, s"targetOccupancy: $targetOccupancy")
    // integer form of ceil(log2(n/occ)): smallest p with 2^p >=
    // ceil(n/occ). Exact in any engine's integer arithmetic (the
    // float-log form can flip ceil() by one ulp near exact powers of
    // two, which would silently desynchronize an oracle re-deriving the
    // plane count). Division form, not `2^p * occ < n`: the product
    // overflows Long for large occ × planes and would drive p to
    // maxPlanes via a negative product — this rule must stay exactly
    // reproducible for ANY parameterization an external oracle replays.
    val cells = n / targetOccupancy + (if (n % targetOccupancy == 0) 0 else 1)
    var p = minPlanes
    while (p < maxPlanes && p < 62 && (1L << p) < cells) p += 1
    p
  }

  /** EXACT edit-distance self-join: all pairs with
    * levenshtein(a, b) ≤ maxDist — fuzzy key matching for curation
    * (near-identical titles/names/urls that exact dedup misses).
    *
    * Candidates come from the FastSS deletion-neighborhood index
    * ([[graft.functions.TextOps.deletionVariants]]): an equi-join on
    * "string with ≤ k chars deleted" keys. Unlike fixed-position
    * segment (pigeonhole) schemes, a shared corpus-wide prefix does NOT
    * produce one universal bucket — a deletion key differs from its
    * source in at most k chars, so buckets only group near-identical
    * strings. Index blow-up is the FastSS tradeoff: O(len^k) keys per
    * row — keep k ≤ 2 and apply to short key-like columns (names,
    * titles, ids), not whole documents. The candidate pair set is
    * distinct'd BEFORE verification, so levenshtein runs once per pair.
    *
    * Output: (id_a, id_b, dist), id_a < id_b, dist ≤ maxDist.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"maxDist must be 1 or 2 (deletion-index size is O(len^k)): $maxDist")
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
    // candidate generation moves (id, key) ONLY, and the pair set is
    // distinct'd as bare id pairs BEFORE the strings come back — a pair
    // sharing several deletion keys still shuffles/verifies once (the
    // same slim-candidates/verify-join split the other dedup operators
    // use; distinct over the string-carrying rows measured 2x slower)
    val keyed = base.select(col("id"),
      explode(graft.functions.TextExprs.deletionVariants(col("s"), maxDist))
        .as("key"))
    val candidates = keyed.as("a")
      .join(keyed.as("b"), col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sa = base.select(col("id").as("id_a"), col("s").as("s_a"))
    val sb = base.select(col("id").as("id_b"), col("s").as("s_b"))
    candidates.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** SemDeDup-style SEMANTIC near-dup pairs (Abbas et al. 2023,
    * public): coarse k-means clusters the embedding space, then exact
    * cosine pairs are computed WITHIN each cluster only. Complements
    * [[embeddingNearDupPairs]]: LSH banding buckets by random
    * projections (per-pair recall is analytic but candidate volume is
    * data-blind); clustering bounds the quadratic term by cell
    * population and misses only pairs the quantizer splits — the
    * tradeoff the semantic-dedup literature picked for web-scale
    * corpora.
    *
    * Scale shape: the [[Quantizer]] fits on a bounded sample of the
    * input on every call; assignment is one broadcast matvec per row; the
    * self-join equi-keys on `cell`, so pair generation co-partitions by
    * cell and is quadratic only within a cell (nlist grows with the
    * corpus to hold cell size ~constant; hot cells split by AQE).
    * Within a cell every pair must be verified anyway, so vectors
    * riding the cell-local join IS the candidate verification — there
    * is no slimmer exact formulation per cell.
    *
    * Output: (id_a, id_b, cosine, cell), id_a < id_b, cosine ≥
    * threshold. Deterministic for a fixed seed.
    */
  def semanticPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nlist: Int = 16,
      seed: Long = 42L): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // nlist=1 degenerates to brute force (no quantizer needed)
    val assigned = if (nlist <= 1) {
      vecs.select(col("id"), col("vec"), lit(0).as("cell"))
    } else {
      // the one coarse quantizer, over the raw column as given
      val quant = Quantizer.fit(vecs, "vec", nlist, seed, normalize = false)
      vecs.select(col("id"), col("vec"), quant.assign(col("vec")).as("cell"))
    }
    pairsWithinCells(assigned, threshold)
  }

  /** SemDeDup with a DETERMINISTIC quantizer: cells are the Rademacher
    * sign-projection buckets ([[VectorFunctions.rademacherSig]] — ±1
    * signs from md5, exact-integer dots), i.e. the data-blind member of
    * the same coarse-quantizer family k-means belongs to. Identical
    * plan shape to [[semanticPairs]] (assign → cell equi-join →
    * within-cell exact cosine); the assignment is one broadcast-free
    * codegen'd signature per row and — unlike trained k-means — is
    * replicable bit-for-bit by an external SQL engine, which is what
    * lets the gate oracle-check the full pair output. 2^numPlanes
    * cells; numPlanes grows with the corpus like nlist does.
    */
  def semanticPairsSig(df: DataFrame, idCol: String, vecCol: String,
      dims: Int, threshold: Double = 0.95, numPlanes: Int = 3,
      seed: Long = 42L): DataFrame = {
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("cell",
        VectorFunctions.rademacherSig(col("vec"), numPlanes, dims, seed)
          .cast("int"))
    pairsWithinCells(assigned, threshold)
  }

  /** Shared SemDeDup core: exact cosine pairs WITHIN each cell of an
    * (id, vec, cell) assignment. Quadratic only inside a cell — the
    * cell equi-join co-partitions by cell, so pair generation scales
    * with Σ|cell|², not N².
    */
  private def pairsWithinCells(assigned: DataFrame,
      threshold: Double): DataFrame = {
    val a = assigned.select(col("cell"), col("id").as("id_a"),
      col("vec").as("vec_a"))
    val b = assigned.select(col("cell"), col("id").as("id_b"),
      col("vec").as("vec_b"))
    a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosineSim(col("vec_a"), col("vec_b")).as("cosine"),
        col("cell"))
      .filter(col("cosine") >= threshold)
  }
}
