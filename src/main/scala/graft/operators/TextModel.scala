package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextExprs

/** Trained quality-scorer path — the model-artifact leg the
  * [[graft.functions.LinearTextScoreExpr]] kernel was built for.
  *
  * TRAINER: hashed-bucket log-odds (the Naive-Bayes-style linear
  * discriminant). One (bucket, label) count aggregate over the labeled
  * docs' term stream — every uni/bigram occurrence hashes to its
  * 60-bit-md5-prefix bucket, positives and negatives are counted per
  * bucket, and the weight is `round(SCALE · ln((pos+1)/(neg+1)))` in
  * the scorer's 1e7 fixed point. Unlike SGD this is order-free and
  * one-pass (a full shuffle-once aggregation — the 100 TB shape), and
  * every step is SQL-replayable, so the driver gate verifies the
  * TRAINED weights end-to-end, not just the scoring kernel. Term
  * extraction goes through [[graft.functions.ScoreTermsExpr]] — the
  * scorer's own kernel — so training and scoring cannot drift.
  *
  * ARTIFACT: weights persist as parquet (bucket, weight) plus a
  * `_graft_model_meta.json` sidecar pinning (buckets, bigrams, kernel,
  * scale), committed through the [[IndexVersions]] pointer — a
  * retrained model publishes as generation N+1 beside N and flips the
  * pointer LAST, so scorers never read a half-written weight set and
  * rollback is moving the pointer back. [[readWeights]] REFUSES a
  * sidecar-less artifact (a guessed bucket count mis-hashes every
  * term — the recall-collapse failure mode all the repo's sidecars
  * exist to prevent).
  */
object TextModel {

  private val ModelMetaFile = "_graft_model_meta.json"
  private val Kernel = "md5prefix60"

  /** The scorer's fixed-point scale (1e7 — matches the embedding
    * quantization and [[graft.functions.TextOps.linearScore]]'s
    * contract that weights are 1e7-scaled). */
  val Scale = 10000000L

  /** Train log-odds weights from labeled docs. Returns
    * (bucket, weight, pos, neg) — one row per OCCUPIED bucket
    * (≤ `buckets` rows; absent buckets score 0, exactly what
    * [[readWeights]] materializes). `label` is the positive-class
    * predicate (e.g. "kept by human raters", "reference-quality
    * source"). Laplace α = 1 keeps the ratio rational and the ln
    * argument strictly positive.
    *
    * Scale shape: the corpus crosses ONE shuffle, keyed by the
    * 4-byte bucket id (never the term strings — the map side
    * partially aggregates (bucket, label) counts), and the result is
    * bounded by the bucket count, not the corpus.
    */
  def trainLogOdds(labeled: DataFrame, textCol: String, label: Column,
      buckets: Int = 4096, bigrams: Boolean = true): DataFrame = {
    require(buckets > 0, s"buckets: $buckets")
    labeled
      .select(label.cast("boolean").as("lab"),
        explode(TextExprs.scoreTerms(col(textCol), bigrams)).as("term"))
      .select(TextExprs.hashBucket(col("term"), buckets).as("bucket"),
        col("lab"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("lab"), 1L).otherwise(0L)).as("pos"),
        sum(when(!col("lab"), 1L).otherwise(0L)).as("neg"))
      .select(col("bucket"),
        round(lit(Scale.toDouble) *
            log((col("pos") + lit(1.0)) / (col("neg") + lit(1.0))))
          .cast("long").as("weight"),
        col("pos"), col("neg"))
  }

  /** Publish `weights` (bucket, weight) as the next model generation:
    * parquet + sidecar written BESIDE the committed generation, pointer
    * flipped LAST, generations older than N−1 dropped after the flip
    * (current + one rollback target, the manifest retention rule). */
  def writeModel(weights: DataFrame, path: String, buckets: Int,
      bigrams: Boolean): Unit = {
    require(buckets > 0, s"buckets: $buckets")
    val spark = weights.sparkSession
    val v = IndexVersions.nextVersion(spark, path)
    val dir = IndexVersions.versionDir(path, v)
    IndexVersions.writeParquet(
      weights.select(col("bucket").cast("int"), col("weight").cast("long")),
      dir)
    IndexVersions.writeLayout(spark, dir, ModelMetaFile,
      "buckets" -> buckets, "bigrams" -> bigrams, "kernel" -> Kernel,
      "scale" -> Scale)
    IndexVersions.commit(spark, path, v)
    IndexVersions.dropOldPathVersions(spark, path, keepPrevious = 1): Unit
  }

  /** The (buckets, bigrams) the committed model generation was written
    * with — None when no sidecar exists at the resolved generation. A
    * model trained with another hash kernel is refused. */
  def modelMeta(spark: SparkSession, path: String): Option[(Int, Boolean)] =
    IndexVersions.layoutIn(spark, IndexVersions.resolvePath(spark, path),
      ModelMetaFile).map(modelOf)

  private def modelOf(r: IndexVersions.LayoutRecord): (Int, Boolean) = {
    r.requireKernel(Kernel, "model")
    (r.int("buckets"), r.boolean("bigrams"))
  }

  /** Load the committed generation's weights as the dense vector the
    * scoring kernel broadcasts (absent buckets → 0). Bounded by the
    * bucket count — a fastText-shape model is a few MB, a reference
    * object/broadcast, never a join. Refuses a sidecar-less artifact
    * and out-of-range bucket ids (a corrupt or foreign weight file). */
  def readWeights(spark: SparkSession,
      path: String): (IndexedSeq[Long], Boolean) = {
    val (buckets, bigrams) = modelOf(IndexVersions.layout(spark,
      IndexVersions.resolvePath(spark, path), ModelMetaFile))
    val dense = new Array[Long](buckets)
    IndexVersions.readParquet(spark,
        Seq(IndexVersions.resolvePath(spark, path)))
      .select(col("bucket").cast("int"), col("weight").cast("long"))
      .collect().foreach { r =>
        val b = r.getInt(0)
        require(b >= 0 && b < buckets,
          s"model at $path has weight row for bucket $b outside " +
            s"[0, $buckets) — artifact/sidecar mismatch")
        dense(b) = r.getLong(1)
      }
    (scala.collection.immutable.ArraySeq.unsafeWrapArray(dense), bigrams)
  }

  /** Model EVAL frame — the held-out confusion a training pipeline
    * checks before promoting a scorer generation: one aggregate row of
    * (n, tp, fp, fn, tn) at `scoreCol > threshold`, plus
    * precision/recall/accuracy (exact-IEEE divisions; 0.0 on an empty
    * denominator). Composable after [[score]] in the same plan — one
    * hash aggregate, no shuffle beyond it.
    */
  def confusion(scored: DataFrame, label: Column, scoreCol: Column,
      threshold: Long = 0L): DataFrame = {
    val pred = scoreCol > lit(threshold)
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    def rate(num: Column, den: Column) =
      when(den === 0L, lit(0.0))
        .otherwise(num.cast("double") / den.cast("double"))
    scored.agg(count(lit(1)).as("n"),
        cnt(label && pred).as("tp"),
        cnt(!label && pred).as("fp"),
        cnt(label && !pred).as("fn"),
        cnt(!label && !pred).as("tn"))
      .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        rate(col("tp"), col("tp") + col("fp")).as("precision"),
        rate(col("tp"), col("tp") + col("fn")).as("recall"),
        rate(col("tp") + col("tn"), col("n")).as("accuracy"))
  }

  /** Densify a (bucket, weight) frame driver-side — bounded by the
    * bucket count (the [[readWeights]] collect class); absent buckets
    * score 0. */
  private def dense(weights: DataFrame, buckets: Int): IndexedSeq[Long] = {
    val arr = new Array[Long](buckets)
    weights.select(col("bucket").cast("int"), col("weight").cast("long"))
      .collect().foreach { r =>
        val b = r.getInt(0)
        require(b >= 0 && b < buckets,
          s"weight row for bucket $b outside [0, $buckets)")
        arr(b) = r.getLong(1)
      }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
  }

  /** Train→eval→PROMOTE guard: publish the candidate trained on
    * `train` as the next model generation ONLY when its held-out
    * accuracy beats the committed generation's by at least `minGain`
    * (a fresh path with no committed model always promotes — there is
    * nothing to regress). This is the gate a production scorer rolls
    * through: a retrain on poisoned/drifted labels evaluates WORSE on
    * the held-out frame and is refused — the committed generation (and
    * every scorer reading through the pointer) never sees it; a
    * genuine improvement flips the pointer atomically ([[writeModel]]'s
    * IndexVersions commit) with rollback retained.
    *
    * `trainLabel` supervises the candidate; `evalLabel` is the
    * held-out truth BOTH models are judged against (they differ
    * exactly when the training labels are the thing you distrust).
    * Decisions compare at `scoreCol > threshold` accuracy — swap in a
    * different figure of merit by composing [[confusion]] yourself.
    *
    * Returns one row: (cand_accuracy, inc_accuracy — −1 when no
    * incumbent, promoted, generation — the COMMITTED version after the
    * decision). Driver-side work is two 1-row accuracy collects plus
    * the ≤`buckets` candidate-weight collect; the corpus itself
    * crosses only the trainer's bucket-keyed aggregate and two scoring
    * kernel passes.
    */
  def promoteIfBetter(spark: SparkSession, train: DataFrame,
      heldOut: DataFrame, textCol: String, trainLabel: Column,
      evalLabel: Column, path: String, buckets: Int = 4096,
      bigrams: Boolean = true, minGain: Double = 0.0,
      threshold: Long = 0L): DataFrame = {
    import spark.implicits._
    val cand = trainLogOdds(train, textCol, trainLabel, buckets, bigrams)
      .localCheckpoint(true) // scored now, written on promote — one train
    val candW = dense(cand, buckets)
    def accuracy(weights: IndexedSeq[Long], big: Boolean): Double =
      confusion(
        heldOut.withColumn("m",
            TextExprs.linearTextScore(col(textCol), weights, big))
          .withColumn("score_q", col("m.score_q")).drop("m"),
        evalLabel, col("score_q"), threshold)
        .select(col("accuracy")).as[Double].head()
    val candAcc = accuracy(candW, bigrams)
    val incAcc: Option[Double] =
      if (modelMeta(spark, path).isDefined) {
        val (w, big) = readWeights(spark, path)
        Some(accuracy(w, big))
      } else None
    val promoted = incAcc.forall(candAcc >= _ + minGain)
    if (promoted) writeModel(cand, path, buckets, bigrams)
    val gen = IndexVersions.currentVersion(spark, path).getOrElse(0)
    Seq((candAcc, incAcc.getOrElse(-1.0), promoted, gen.toLong))
      .toDF("cand_accuracy", "inc_accuracy", "promoted", "generation")
  }

  /** Score `docs` with the committed model generation at `path`:
    * adds `n_terms` (int) and `score_q` (BIGINT fixed-point dot
    * product) — one codegen'd kernel pass, zero shuffle. */
  def score(spark: SparkSession, docs: DataFrame,
      textCol: String, path: String): DataFrame = {
    val (weights, bigrams) = readWeights(spark, path)
    docs.withColumn("m",
        TextExprs.linearTextScore(col(textCol), weights, bigrams))
      .withColumn("n_terms", col("m.n_terms"))
      .withColumn("score_q", col("m.score_q"))
      .drop("m")
  }
}
