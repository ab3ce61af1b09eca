package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TopKAgg

/** Deterministic sampling operators for training-data pipelines.
  *
  * Stratified sampling ("n documents per language/source/quality
  * bucket") is how corpus mixes are rebalanced. The naive
  * `Window.partitionBy(stratum).orderBy(rand)` shapes a full sort of
  * every stratum into single tasks AND is non-reproducible; this
  * implementation reuses the bounded-heap TopKByScore aggregate (see
  * [[graft.functions.TopKAgg]]), so each input partition is pruned
  * map-side to n rows per stratum before the only shuffle, and the
  * "random" order is a deterministic hash of the id — same sample on
  * every run, every cluster size.
  */
object Sampling {

  /** Deterministic pseudo-random score from an integer id: Knuth
    * multiplicative hash modulo a prime. Values stay < 2^20, so they
    * are exact in double and reproducible in any engine's BIGINT
    * arithmetic (no 64-bit-hash-to-double precision loss).
    *
    * Reduced mod-first: (id mod p)·K ≤ 1000003·2654435761 < 2^63, so
    * the product cannot overflow for ANY bigint id — `id·K` directly
    * would overflow (and ANSI mode throws) for ids above ~3.5e9, which
    * a 100 TB corpus reaches. By congruence the result is identical.
    */
  def idScore(id: Column): Column =
    pmod(pmod(id, lit(1000003L)) * lit(2654435761L), lit(1000003L))

  /** The multiplier behind [[epochScore]]: epoch 0 is exactly
    * [[idScore]]'s constant (bit-compatible with every existing gate);
    * later epochs step the multiplier through the residue ring — a
    * DIFFERENT affine permutation per epoch, not a rotation (an
    * additive shift would only rotate the order, which is no reshuffle
    * at all). p = 1,000,003 is prime, so any nonzero multiplier is a
    * bijection on the score space.
    */
  def epochMultiplier(epoch: Int): Long = {
    require(epoch >= 0, s"epoch must be >= 0: $epoch")
    if (epoch == 0) 2654435761L
    else {
      val k = (2654435761L % 1000003L + epoch.toLong * 40503L) % 1000003L
      if (k == 0L) 1L else k
    }
  }

  /** Deterministic pseudo-random score for training EPOCH `epoch` —
    * the multi-epoch reshuffle: each epoch's serialization order is a
    * fresh reproducible permutation, regenerated from (id, epoch) with
    * no stored permutation table. Same exactness envelope as
    * [[idScore]] (values < 2^20, mod-first product < 2^63).
    */
  def epochScore(id: Column, epoch: Int): Column =
    pmod(pmod(id, lit(1000003L)) * lit(epochMultiplier(epoch)),
      lit(1000003L))

  /** Up to `n` rows per stratum, picked by ascending [[idScore]]
    * (ties impossible within a stratum for distinct ids below the
    * prime; the aggregate's id-ASC tiebreak covers collisions).
    * Output: (stratum, id, rank 1..n).
    */
  def stratified(df: DataFrame, stratumCol: String, idCol: String,
      n: Int): DataFrame =
    df.select(col(stratumCol).as("stratum"), col(idCol).as("id"))
      // TopKByScore keeps the HIGHEST scores — negate for ascending
      .withColumn("score", -idScore(col("id")))
      .groupBy(col("stratum"))
      .agg(TopKAgg.topKByScore(col("score"), col("id"), n).as("topk"))
      .select(col("stratum"), explode(col("topk")).as("e"))
      .select(col("stratum"), col("e.id").as("id"), col("e.rank").as("rank"))

  /** Per-group cap ("domain cap"): keep at most `n` best rows per group
    * by (`scoreCol` DESC, id ASC tiebreak) — crawl curation's per-domain
    * limit, where one hot domain can contribute billions of pages that
    * would drown the mix.
    *
    * Two-stage shape: the bounded-heap [[graft.functions.TopKAgg]]
    * aggregate prunes each input partition to ≤ n rows per group
    * map-side, so the only wide exchange carries k·groups·partitions
    * (id, score) pairs — never the documents, and never a full
    * per-group sort (the window formulation puts the entire hot domain
    * in ONE task). Full rows come back via a join on the kept ids —
    * ≤ n·|groups| rows, but deliberately NOT hint-broadcast: with
    * millions of groups (per-domain caps over the open web) the kept
    * set is itself large, and a forced broadcast would be a driver
    * OOM. AQE sees the aggregate's output size and picks the
    * broadcast side exactly when it really is small.
    *
    * Output: every `df` column plus `rank` (1..n within the group).
    */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
      score: Column, n: Int): DataFrame = {
    val kept = df
      .select(col(groupCol).as("grp"), col(idCol).as("id"),
        score.cast("double").as("score"))
      .groupBy(col("grp"))
      .agg(TopKAgg.topKByScore(col("score"), col("id"), n).as("topk"))
      .select(explode(col("topk")).as("e"))
      .select(col("e.id").as("__keep_id"), col("e.rank").as("rank"))
    df.join(kept, df(idCol) === kept("__keep_id"))
      .drop("__keep_id")
  }

  /** Deterministic train/val/test assignment by id hash — the standard
    * "split by hash, not by order" rule for training corpora (row order
    * is partition-dependent in any distributed engine; an id hash gives
    * the same membership on every run, cluster size, and engine, and
    * new rows never reshuffle old ones between splits).
    *
    * Narrow (no shuffle, no state): bucket = [[idScore]] mod 100, rows
    * with bucket < trainPct → "train", < trainPct+valPct → "val",
    * rest → "test". Adds a `split` column.
    */
  def hashSplit(df: DataFrame, idCol: String, trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val bucket = pmod(idScore(col(idCol)), lit(100L))
    df.withColumn("split",
      when(bucket < trainPct, lit("train"))
        .when(bucket < trainPct + valPct, lit("val"))
        .otherwise(lit("test")))
  }

  /** Deterministic corpus mixing: keep each row with a per-group rate
    * ("domain reweighting" — downsample boilerplate-heavy sources,
    * keep the rare ones whole). Rates are integer per-mille so the
    * threshold comparison is exact integer arithmetic in any engine.
    * Narrow (filter only). Nested property: a group's 100‰ keep set is
    * a subset of its 500‰ keep set — rate changes never resample.
    */
  def weightedKeep(df: DataFrame, idCol: String, groupCol: String,
      keepPerMille: Map[String, Int],
      defaultPerMille: Int = 1000): DataFrame = {
    require((defaultPerMille +: keepPerMille.values.toSeq)
      .forall(p => p >= 0 && p <= 1000), s"per-mille rates must be 0..1000")
    val pm = pmod(idScore(col(idCol)), lit(1000L))
    val thresh = keepPerMille.toSeq.sortBy(_._1).foldLeft(
      lit(defaultPerMille)) { case (acc, (g, p)) =>
        when(col(groupCol) === g, lit(p)).otherwise(acc)
      }
    df.filter(pm < thresh)
  }

  /** Token-budget corpus assembly: per group, take documents in the
    * deterministic [[idScore]] order until the group's cumulative
    * token count reaches its budget — "30B tokens of web, 3B of code"
    * as one operator. A document is kept iff the running token sum
    * INCLUDING it stays ≤ the budget (prefix rule): the output never
    * exceeds a budget, the selection is reproducible, and it is NESTED
    * — raising a budget only ever adds documents, so two corpus
    * versions cut at different budgets share their prefix.
    *
    * This is the EXACT path: the running sum is a per-group window,
    * which sorts each group in one task — correct at any size, but a
    * single hot group (all-of-web under one "en" label) serializes.
    * [[tokenBudgetThresholded]] is the 100 TB shape.
    *
    * Output: input columns + `cum_tokens` (the running sum, ≤ budget).
    */
  def tokenBudget(df: DataFrame, groupCol: String, idCol: String,
      tokens: Column, budgets: Map[String, Long],
      defaultBudget: Long = Long.MaxValue): DataFrame = {
    require((defaultBudget +: budgets.values.toSeq).forall(_ >= 0),
      "budgets must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(idScore(col(idCol)), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budget = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
      case (acc, (g, b)) => when(col(groupCol) === g, lit(b)).otherwise(acc)
    }
    df.withColumn("cum_tokens", sum(tokens.cast("long")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Thresholded token budget — the scale path: instead of sorting each
    * group, ONE aggregation pass computes the token mass per
    * (group, [[idScore]] value) — at most 1,000,003 score values per
    * group regardless of corpus size, so the cumulative scan runs over
    * the bounded aggregate, never the documents — and each group keeps
    * the full score buckets whose running mass fits the budget. The
    * corpus-side selection is then a narrow semi-join on (group,
    * score-cutoff): no document ever crosses a shuffle wider than the
    * (group, score) aggregate.
    *
    * Approximation contract (spec-pinned): the kept set is a SUBSET of
    * [[tokenBudget]]'s for the same budgets — it stops one PARTIAL
    * score bucket earlier, so the shortfall is bounded by the heaviest
    * single (group, score) bucket (~corpus_mass/1e6 under hash
    * uniformity). Same nesting property as the exact rule.
    */
  def tokenBudgetThresholded(df: DataFrame, groupCol: String,
      idCol: String, tokens: Column, budgets: Map[String, Long],
      defaultBudget: Long = Long.MaxValue): DataFrame = {
    require((defaultBudget +: budgets.values.toSeq).forall(_ >= 0),
      "budgets must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val mass = df
      .select(col(groupCol).as("grp"), idScore(col(idCol)).as("score"),
        tokens.cast("long").as("tk"))
      .groupBy(col("grp"), col("score"))
      .agg(sum(col("tk")).as("bucket_tokens"))
    val w = Window.partitionBy(col("grp")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // last fully-kept score per group; a group whose FIRST bucket
    // already exceeds the budget has no row in `cut`, so the inner
    // join below keeps zero of its documents — the same outcome as
    // tokenBudget's prefix rule
    val cut = mass.withColumn("cum", sum(col("bucket_tokens")).over(w))
      .filter(col("cum") <=
        budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
          case (acc, (g, b)) => when(col("grp") === g, lit(b)).otherwise(acc)
        })
      .groupBy(col("grp")).agg(max(col("score")).as("cut_score"))
    df.join(cut.withColumnRenamed("grp", groupCol), Seq(groupCol))
      .filter(idScore(col(idCol)) <= col("cut_score"))
      .drop("cut_score")
  }

  /** Deterministic global training-order shuffle: every row gets a
    * unique rank 1..n in [[idScore]] order (ties by id) — "shuffle the
    * corpus once, reproducibly" for training-data serialization, where
    * a re-run or a resumed job must regenerate the SAME order without
    * storing a permutation table.
    *
    * The naive formulation is one `row_number()` window over the whole
    * corpus — a SINGLE task sorting everything (the same trap the
    * winsorize/token-budget scale paths avoid). This operator composes
    * the rank from `buckets` contiguous score ranges instead:
    * per-bucket counts (one agg) → running offsets (a window over ≤
    * `buckets` rows) → rank = bucket offset + row_number within the
    * bucket. The per-bucket windows partition on the bucket id and run
    * in parallel, each sorting ~n/buckets rows; the only global window
    * orders the bucket-count aggregate. Because buckets are contiguous
    * score ranges, the composed rank equals the naive one exactly.
    *
    * Output: input columns + `shuffle_rank` (1..n, a bijection for
    * unique ids). Requires unique `idCol` values for a deterministic
    * total order (ties between equal (score, id) pairs would be
    * interchangeable).
    *
    * `buckets` ≤ 0 (the default) derives the count from the corpus size
    * ([[Tune.scaledSortBuckets]]: ~1M rows per bucket, floored at the
    * core count — `knownCount` skips the count job when the caller
    * already has the row count). A FIXED count tuned at one corpus size
    * turns each per-bucket window into a multi-GB single-task sort a
    * few decades later; the rank is bucket-count-invariant
    * (spec-pinned), so auto-scaling never changes the output.
    *
    * `epoch` reshuffles: each epoch is a fresh reproducible permutation
    * ([[epochScore]] — a different affine multiplier per epoch), so a
    * multi-epoch training run regenerates every epoch's order from
    * (id, epoch) alone. Epoch 0 is bit-identical to the original rank.
    */
  def shuffleRank(df: DataFrame, idCol: String,
      buckets: Int = 0, knownCount: Long = -1L,
      epoch: Int = 0): DataFrame = {
    val b = resolveSortBuckets(df, buckets, knownCount)
    import org.apache.spark.sql.expressions.Window
    val width = (1000003L + b - 1) / b
    val s = epochScore(col(idCol), epoch)
    val withB = df.withColumn("__sbkt", (s / lit(width)).cast("long"))
    val offsets = withB.groupBy(col("__sbkt"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off",
        coalesce(sum(col("__cnt")).over(
          Window.orderBy(col("__sbkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__cnt")
    val w = Window.partitionBy(col("__sbkt")).orderBy(s, col(idCol))
    withB.join(broadcast(offsets), Seq("__sbkt"))
      .withColumn("shuffle_rank",
        (col("__off") + row_number().over(w)).cast("long"))
      .drop("__sbkt", "__off")
  }

  /** Exact global PREFIX SUM of a per-row mass (token counts, bytes) in
    * the deterministic [[idScore]] shuffle order — the primitive behind
    * size-targeted output sharding ([[Shards]]) and weight-proportional
    * systematic sampling ([[systematicSample]]): both need "the running
    * total up to and including this row" over the whole corpus, in a
    * reproducible order, without storing anything.
    *
    * The naive formulation is `sum(mass) OVER (ORDER BY score, id)` — a
    * SINGLE task scanning everything (the [[shuffleRank]] trap, but for
    * a sum instead of a rank). Composition is identical to
    * [[shuffleRank]]: per-bucket mass totals (one map-side-combinable
    * agg) → running offsets over the ≤ `buckets` totals (the only
    * global window) → per-row `cum_mass` = bucket offset + running sum
    * WITHIN the bucket (parallel per-bucket windows over contiguous
    * score ranges, so the composed sum equals the naive one exactly —
    * bucket-count-invariant, spec-pinned). All BIGINT; masses must be
    * non-negative and their total must fit a long (a 100 TB corpus is
    * ~2.5e13 tokens — 5 decimal orders under Long.MaxValue).
    *
    * Output: input columns + `cum_mass` (inclusive running total).
    * `epoch` selects the serialization epoch's order ([[epochScore]]);
    * `buckets`/`knownCount` as in [[shuffleRank]]. Non-empty
    * `groupCols` computes INDEPENDENT prefix sums per group (the
    * bucket partition becomes (group, bucket), the offsets window
    * partitions by group — still a ≤buckets-row window per group,
    * never a document sort): "running token mass per source".
    */
  def prefixMass(df: DataFrame, idCol: String, mass: Column,
      buckets: Int = 0, knownCount: Long = -1L,
      epoch: Int = 0, groupCols: Seq[String] = Nil): DataFrame = {
    val b = resolveSortBuckets(df, buckets, knownCount)
    import org.apache.spark.sql.expressions.Window
    val width = (1000003L + b - 1) / b
    val s = epochScore(col(idCol), epoch)
    val g = groupCols.map(col)
    // a negative mass silently breaks cum_mass monotonicity downstream
    // (shard div truncates toward zero, stride sampling's keep rule
    // voids) — refuse loudly, per row, inside codegen
    val m = mass.cast("long")
    val guarded = when(m < 0L, raise_error(concat(
      lit(s"prefixMass: negative mass for $idCol="), col(idCol).cast("string"),
      lit(": "), m.cast("string")))).otherwise(m)
    val withB = df.withColumn("__pm", guarded)
      .withColumn("__sbkt", (s / lit(width)).cast("long"))
    val offsets = withB.groupBy(g :+ col("__sbkt"): _*)
      .agg(sum(col("__pm")).as("__bm"))
      .withColumn("__off",
        coalesce(sum(col("__bm")).over(
          Window.partitionBy(g: _*).orderBy(col("__sbkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__bm")
    val w = Window.partitionBy(g :+ col("__sbkt"): _*).orderBy(s, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ungrouped: the offsets frame is ≤ `buckets` rows (hard-capped at
    // 1000003 by the score modulus) — always broadcastable. Grouped:
    // it is groups × buckets rows, unbounded by the API (any column is
    // a legal group) — no hint; AQE broadcasts it at runtime iff it is
    // actually small, and shuffles the join past the threshold instead
    // of forcing a GB-scale frame through the driver.
    val hinted = if (groupCols.isEmpty) broadcast(offsets) else offsets
    withB.join(hinted, groupCols :+ "__sbkt")
      .withColumn("cum_mass", col("__off") + sum(col("__pm")).over(w))
      .drop("__sbkt", "__off", "__pm")
  }

  /** Weight-proportional SYSTEMATIC sample without replacement: lay the
    * corpus out on the integer mass line in [[idScore]] order (each row
    * occupies the interval `(cum_mass − w, cum_mass]`) and keep every
    * row whose interval contains a multiple of `step` — classic
    * systematic/stride sampling (the stride-scheduling arithmetic the
    * interleave operator uses, applied to selection). Each row is kept
    * with probability exactly `min(1, w/step)` under the hash order's
    * implicit shuffle, expected sample mass = total/step of the corpus
    * mass, and the whole decision is exact BIGINT arithmetic — no
    * floats, no RNG state, reproducible on re-run, and (unlike an
    * independent per-row coin flip) the sample TOKEN MASS is within one
    * document of its expectation, which is what "sample 1% of the
    * corpus by tokens" actually wants.
    *
    * A row heavier than `step` is selected once but spans several
    * multiples; `picks` (= how many multiples its interval covers, ≥ 1
    * for kept rows) carries the weight-proportional multiplicity for
    * callers that resample WITH replacement or weight downstream
    * losses.
    *
    * Scale shape: [[prefixMass]] (no global sort) + a per-row integer
    * filter — the corpus crosses exactly one shuffle (the bucket
    * partition), and the kept set never shuffles again.
    *
    * Output: kept rows with `cum_mass` and `picks`. Non-empty
    * `groupCols` samples each group independently on its own mass line
    * ("exactly 1% of tokens from EVERY source" — a global line would
    * let a huge source crowd out small ones between multiples).
    */
  def systematicSample(df: DataFrame, idCol: String, weight: Column,
      step: Long, buckets: Int = 0, knownCount: Long = -1L,
      epoch: Int = 0, groupCols: Seq[String] = Nil): DataFrame = {
    require(step >= 1, s"step must be >= 1: $step")
    prefixMass(df.withColumn("__w", weight.cast("long")), idCol,
        col("__w"), buckets, knownCount, epoch, groupCols)
      .withColumn("picks",
        expr(s"(cum_mass div ${step}L) - ((cum_mass - __w) div ${step}L)"))
      .filter(col("picks") >= 1)
      .drop("__w")
  }

  /** Multi-EPOCH source upsampling — the other half of a training-data
    * recipe: [[mixToTokenShares]]/[[weightedKeep]] DOWN-sample
    * over-represented sources; real recipes also UP-sample scarce
    * high-quality ones ("4 epochs of wiki, 1 epoch of web"). Each row
    * is replicated once per epoch 0..k−1 for its group's epoch count,
    * and every copy gets `sample_key` = [[epochScore]](id, epoch) — a
    * DIFFERENT deterministic position per copy, so sorting the output
    * by (sample_key, id, epoch) spreads a document's repetitions across
    * the run instead of clustering them (repeated-data adjacency is a
    * known training pathology), reproducibly, with no stored
    * permutation and no RNG state. The epoch-0 key is bit-identical to
    * [[idScore]], so a 1-epoch recipe serializes exactly like
    * [[shuffleRank]]'s order.
    *
    * Scale shape: a generator (explode over a ≤k int range) + integer
    * projection — the operator itself shuffles NOTHING; the writer's
    * range-partitioned sort on the key is the only global step, same as
    * [[interleaveByWeight]]. The multiplier arithmetic is the
    * [[epochMultiplier]] residue formula inlined as a column, products
    * bounded by p² < 2^40.
    *
    * Output: input columns + `epoch` (0-based BIGINT) + `sample_key`.
    */
  def upsampleEpochs(df: DataFrame, groupCol: String, idCol: String,
      epochs: Map[String, Int], defaultEpochs: Int = 1): DataFrame = {
    require((defaultEpochs +: epochs.values.toSeq).forall(_ >= 1),
      "epoch counts must be >= 1")
    val k = epochs.toSeq.sortBy(_._1).foldLeft(lit(defaultEpochs)) {
      case (acc, (g, n)) => when(col(groupCol) === g, lit(n)).otherwise(acc)
    }
    // epochMultiplier(e) as a column: epoch 0 keeps idScore's constant,
    // later epochs step through the residue ring (0 guarded to 1)
    val stepped = pmod(lit(2654435761L % 1000003L) +
      col("epoch") * lit(40503L), lit(1000003L))
    val mult = when(col("epoch") === 0L, lit(2654435761L))
      .otherwise(when(stepped === 0L, lit(1L)).otherwise(stepped))
    df.withColumn("epoch",
        explode(sequence(lit(0L), k.cast("long") - lit(1L))))
      .withColumn("sample_key",
        pmod(pmod(col(idCol), lit(1000003L)) * mult, lit(1000003L)))
  }

  /** Weighted source interleave — the serialization ORDER companion to
    * [[weightedKeep]]'s sampling: each group's documents get a
    * deterministic per-group rank (same bucketed composition as
    * [[shuffleRank]], partitioned by group — no single-task sort), and
    * an exact-integer `interleave_key = src_rank · (L / w_group)`
    * (stride scheduling, L = lcm of the weights). Sorting the corpus by
    * (interleave_key, group, id) yields an order where any prefix cut
    * at key ≤ t contains EXACTLY floor(t·w/L) documents of each
    * group — "2 parts web to 1 part code, interleaved" for curriculum
    * serialization, reproducible on re-run with no stored permutation.
    *
    * The operator emits the key rather than a global position: the key
    * defines the total order (ties across groups break by (group, id)),
    * so the writer's range-partitioned sort is the only global step —
    * same scale shape as [[shuffleRank]] (and the same auto-scaled
    * bucket count: `buckets` ≤ 0 derives from the corpus size,
    * `knownCount` skips the count job).
    *
    * Overflow safety: the interleave order depends only on weight
    * RATIOS, so the weight set is first normalized by its gcd
    * ({300, 200} computes exactly what {3, 2} does); the lcm fold uses
    * `Math.multiplyExact`, so a pathological coprime weight set is
    * rejected loudly instead of producing garbage strides; and the key
    * multiplication itself is guarded per row (rank · stride past
    * Long.MaxValue raises, never wraps — billion-scale ranks × a large
    * lcm is exactly the 100 TB regime).
    *
    * Output: input columns + `src_rank` (1..n within group) +
    * `interleave_key` (BIGINT, exact).
    */
  def interleaveByWeight(df: DataFrame, groupCol: String, idCol: String,
      weights: Map[String, Int], defaultWeight: Int = 1,
      buckets: Int = 0, knownCount: Long = -1L): DataFrame = {
    require((defaultWeight +: weights.values.toSeq).forall(_ >= 1),
      "weights must be >= 1")
    val b = resolveSortBuckets(df, buckets, knownCount)
    import org.apache.spark.sql.expressions.Window
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    // normalize by the common gcd first — ratios are the semantics
    val g0 = (weights.values.toSet + defaultWeight)
      .foldLeft(0L)((a, w) => gcd(a, w))
    val norm = weights.map { case (k, v) => k -> v / g0 }
    val normDefault = defaultWeight / g0
    val big = (norm.values.toSet + normDefault)
      .foldLeft(1L) { (l, w) =>
        try Math.multiplyExact(l / gcd(l, w), w)
        catch {
          case _: ArithmeticException => throw new IllegalArgumentException(
            s"lcm of weights ${weights.values.toSeq.sorted.mkString(",")} " +
              s"(default $defaultWeight) overflows Long — the stride keys " +
              "would silently wrap; reduce the weight set to smaller ratios")
        }
      }
    val width = (1000003L + b - 1) / b
    val s = idScore(col(idCol))
    val withB = df.withColumn("__sbkt", (s / lit(width)).cast("long"))
    val offsets = withB.groupBy(col(groupCol), col("__sbkt"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off",
        coalesce(sum(col("__cnt")).over(
          Window.partitionBy(col(groupCol)).orderBy(col("__sbkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__cnt")
    val w = Window.partitionBy(col(groupCol), col("__sbkt"))
      .orderBy(s, col(idCol))
    // strides computed in Scala integer math (L divides each weight's
    // stride exactly) — no float division anywhere. Each group's max
    // overflow-safe rank is also known driver-side (Long.MaxValue /
    // stride), so the per-row guard is a plain comparison.
    def perGroup(f: Long => Long): Column =
      norm.toSeq.sortBy(_._1).foldLeft(lit(f(big / normDefault))) {
        case (acc, (g, p)) =>
          when(col(groupCol) === g, lit(f(big / p))).otherwise(acc)
      }
    val stride = perGroup(identity)
    val maxRank = perGroup(Long.MaxValue / _)
    withB.join(broadcast(offsets), Seq(groupCol, "__sbkt"))
      .withColumn("src_rank",
        (col("__off") + row_number().over(w)).cast("long"))
      .withColumn("interleave_key",
        when(col("src_rank") > maxRank, raise_error(concat(
          lit("interleave_key overflow: src_rank "),
          col("src_rank").cast("string"), lit(" × stride "),
          stride.cast("string"), lit(" exceeds Long.MaxValue"))))
          .otherwise(col("src_rank") * stride))
      .drop("__sbkt", "__off")
  }

  /** Mix to target TOKEN shares ("70:20:10 web:code:math"): derive each
    * group's keep rate so its surviving token mass lands at (at most)
    * `sharePerMille`/1000 of the WHOLE corpus's token mass, then apply
    * the [[weightedKeep]] hash rule. The rate is exact integer floor
    * arithmetic — `rate‰ = min(1000, total·share‰ / group_mass)` in
    * BIGINT — and the kept set inherits weightedKeep's properties:
    * deterministic, nested under share increases, new rows never
    * resample old ones. The achieved share is the hash-uniformity
    * EXPECTATION (each doc keeps/drops whole); groups absent from the
    * map keep everything (rate 1000‰).
    *
    * Scale shape: one (group, mass) aggregate (map-side combinable),
    * a ≤|groups|-row total window over that aggregate, and a broadcast
    * join back — the corpus crosses no shuffle; the filter is narrow.
    *
    * Output: input columns + `rate_pm` (the applied per-mille rate).
    */
  def mixToTokenShares(df: DataFrame, groupCol: String, idCol: String,
      tokens: Column, sharesPerMille: Map[String, Int]): DataFrame = {
    require(sharesPerMille.values.forall(p => p >= 0 && p <= 1000),
      "shares must be 0..1000 per-mille")
    import org.apache.spark.sql.expressions.Window
    val masses = df
      .select(col(groupCol).as("grp"), tokens.cast("long").as("tk"))
      .groupBy(col("grp")).agg(sum(col("tk")).as("gmass"))
      .withColumn("total", sum(col("gmass")).over(
        Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
    val share = sharesPerMille.toSeq.sortBy(_._1)
      .foldLeft(lit(1000L)) { case (acc, (g, p)) =>
        when(col("grp") === g, lit(p.toLong)).otherwise(acc)
      }
    // `div` (not `/`): BIGINT floor division — double division would
    // round past 2^53 of token mass. total·share ≤ 1000× the corpus
    // token count stays far under Long.MaxValue for any real corpus.
    val rates = masses.withColumn("__share", share)
      .select(col("grp").as(groupCol),
        least(lit(1000L),
          when(col("gmass") > 0,
            expr("(total * __share) div gmass"))
            .otherwise(lit(1000L))).as("rate_pm"))
    df.join(broadcast(rates), Seq(groupCol))
      .filter(pmod(idScore(col(idCol)), lit(1000L)) < col("rate_pm"))
  }

  /** Quality-MASS curation ("top-p per source"): per group, keep the
    * best documents until the kept score mass reaches `pct` percent of
    * the group's total mass — the curation rule when the budget is a
    * FRACTION of quality signal rather than a token count ("keep the
    * top 80% of quality mass per language"; the complement of
    * winsorize-then-threshold for heavy-tailed signals, where a fixed
    * score cutoff keeps wildly different fractions per group).
    *
    * Order: (`score` DESC, [[idScore]], id) — best first, hash
    * tiebreak so equal-score documents keep/drop reproducibly. Prefix
    * rule: a document is kept iff the running mass INCLUDING it stays
    * ≤ pct% of the group total, so the kept mass never exceeds the
    * fraction and the selection NESTS (pct 50 ⊆ pct 80). All mass
    * arithmetic is BIGINT (`cum·100 ≤ total·pct`) — engine-exact, no
    * float fractions.
    *
    * This is the EXACT path (per-group window sort, one hot group
    * serializes — the [[tokenBudget]] caveat); [[qualityMassThresholded]]
    * is the 100 TB shape. Output: input columns + `cum_mass` +
    * `grp_mass`.
    */
  def qualityMass(df: DataFrame, groupCol: String, idCol: String,
      score: Column, pctByGroup: Map[String, Int],
      defaultPct: Int = 100): DataFrame = {
    require((defaultPct +: pctByGroup.values.toSeq)
      .forall(p => p >= 0 && p <= 100), "pct must be 0..100")
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(score.cast("long").desc, idScore(col(idCol)), col(idCol))
    val w = Window.partitionBy(col(groupCol)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
    val pct = pctByGroup.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (g, p)) => when(col(groupCol) === g, lit(p)).otherwise(acc)
    }
    df.withColumn("cum_mass", sum(score.cast("long")).over(w))
      .withColumn("grp_mass", sum(score.cast("long")).over(wAll))
      .filter(col("cum_mass") * lit(100L) <= col("grp_mass") * pct)
  }

  /** [[qualityMass]] generalized to an INDEPENDENT mass axis: per
    * group, keep the best documents by `score` until the kept `mass`
    * (tokens, bytes — not the score) reaches `pct` percent of the
    * group's total — "keep each language's best-scoring half of its
    * TOKENS", the curation rule a learned quality model
    * ([[graft.functions.TextExprs.linearTextScore]]) feeds: model
    * scores order, token counts budget. [[qualityMass]] is the
    * score-as-mass special case and keeps its own gate; scores may be
    * NEGATIVE here (a linear model's are), only the mass must be
    * non-negative for the prefix arithmetic.
    *
    * Order: (`score` DESC, [[idScore]], id); prefix rule on BIGINT
    * mass (`cum·100 ≤ total·pct`) — kept mass never exceeds the
    * fraction, selection nests across pct. EXACT path (per-group
    * window — one hot group serializes); the 100 TB shape is the
    * [[qualityMassThresholded]] construction on this score axis with
    * the mass aggregated per (group, score) bucket.
    *
    * Output: input columns + `cum_mass` + `grp_mass`.
    */
  def qualityMassBy(df: DataFrame, groupCol: String, idCol: String,
      score: Column, mass: Column, pctByGroup: Map[String, Int],
      defaultPct: Int = 100): DataFrame = {
    require((defaultPct +: pctByGroup.values.toSeq)
      .forall(p => p >= 0 && p <= 100), "pct must be 0..100")
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(score.cast("long").desc, idScore(col(idCol)), col(idCol))
    val w = Window.partitionBy(col(groupCol)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
    val m = mass.cast("long")
    val guarded = when(m < 0L, raise_error(concat(
      lit(s"qualityMassBy: negative mass for $idCol="),
      col(idCol).cast("string")))).otherwise(m)
    val pct = pctByGroup.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (g, p)) => when(col(groupCol) === g, lit(p)).otherwise(acc)
    }
    df.withColumn("cum_mass", sum(guarded).over(w))
      .withColumn("grp_mass", sum(guarded).over(wAll))
      .filter(col("cum_mass") * lit(100L) <= col("grp_mass") * pct)
  }

  /** The 100 TB shape of [[qualityMassBy]] — the
    * [[qualityMassThresholded]] construction with the INDEPENDENT mass
    * axis: one aggregation computes kept-mass per (group, score value)
    * (bounded by the distinct score count, never the corpus), the
    * running mass over that aggregate picks each group's lowest
    * fully-kept score, and the corpus-side selection is a narrow
    * `score ≥ cutoff` filter — no per-group document sort anywhere.
    * Kept set is a SUBSET of [[qualityMassBy]]'s truncated at a
    * score-value boundary (stops one partial score bucket early;
    * shortfall ≤ the heaviest single (group, score) mass bucket).
    * Same nesting property; negative scores legal, mass guarded
    * non-negative.
    */
  def qualityMassByThresholded(df: DataFrame, groupCol: String,
      idCol: String, score: Column, mass: Column,
      pctByGroup: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    require((defaultPct +: pctByGroup.values.toSeq)
      .forall(p => p >= 0 && p <= 100), "pct must be 0..100")
    import org.apache.spark.sql.expressions.Window
    val m = mass.cast("long")
    val guarded = when(m < 0L, raise_error(concat(
      lit(s"qualityMassByThresholded: negative mass for $idCol="),
      col(idCol).cast("string")))).otherwise(m)
    val buckets = df
      .select(col(groupCol).as("grp"), score.cast("long").as("s"),
        guarded.as("m"))
      .groupBy(col("grp"), col("s"))
      .agg(sum(col("m")).as("bucket_mass"))
    val w = Window.partitionBy(col("grp")).orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("grp"))
    val pct = pctByGroup.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (g, p)) => when(col("grp") === g, lit(p)).otherwise(acc)
    }
    val cut = buckets
      .withColumn("cum", sum(col("bucket_mass")).over(w))
      .withColumn("total", sum(col("bucket_mass")).over(wAll))
      .filter(col("cum") * lit(100L) <= col("total") * pct)
      .groupBy(col("grp")).agg(min(col("s")).as("cut_score"))
    df.join(cut.withColumnRenamed("grp", groupCol), Seq(groupCol))
      .filter(score.cast("long") >= col("cut_score"))
  }

  /** Thresholded quality mass — the scale path, the
    * [[tokenBudgetThresholded]] trick on a DESCENDING score axis: one
    * aggregation computes the mass per (group, score value) — bounded
    * by the distinct score count, never the corpus — the running mass
    * over that aggregate picks each group's lowest fully-kept score,
    * and the corpus-side selection is a narrow `score ≥ cutoff`
    * semi-join. Kept set is a SUBSET of [[qualityMass]]'s truncated at
    * a score-value boundary (it stops one PARTIAL score bucket early;
    * shortfall ≤ the heaviest single (group, score) bucket). Same
    * nesting property.
    */
  def qualityMassThresholded(df: DataFrame, groupCol: String,
      idCol: String, score: Column, pctByGroup: Map[String, Int],
      defaultPct: Int = 100): DataFrame = {
    require((defaultPct +: pctByGroup.values.toSeq)
      .forall(p => p >= 0 && p <= 100), "pct must be 0..100")
    import org.apache.spark.sql.expressions.Window
    val mass = df
      .select(col(groupCol).as("grp"), score.cast("long").as("s"))
      .groupBy(col("grp"), col("s"))
      .agg(sum(col("s")).as("bucket_mass"))
    val w = Window.partitionBy(col("grp")).orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("grp"))
    val pct = pctByGroup.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (g, p)) => when(col("grp") === g, lit(p)).otherwise(acc)
    }
    // lowest fully-kept score per group; a group whose TOP bucket
    // already exceeds its fraction has no cut row and keeps nothing —
    // the same outcome as the exact prefix rule
    val cut = mass
      .withColumn("cum", sum(col("bucket_mass")).over(w))
      .withColumn("total", sum(col("bucket_mass")).over(wAll))
      .filter(col("cum") * lit(100L) <= col("total") * pct)
      .groupBy(col("grp")).agg(min(col("s")).as("cut_score"))
    df.join(cut.withColumnRenamed("grp", groupCol), Seq(groupCol))
      .filter(score.cast("long") >= col("cut_score"))
      .drop("cut_score")
  }

  /** Shared bucket resolution for the composed-rank operators: explicit
    * wins (validated against the score space); ≤ 0 derives from the
    * corpus size ([[Tune.scaledSortBuckets]], `knownCount` skips the
    * count job). The composed rank is bucket-count-invariant, so the
    * choice affects only parallelism, never output.
    */
  private def resolveSortBuckets(df: DataFrame, buckets: Int,
      knownCount: Long): Int =
    if (buckets > 0) {
      require(buckets <= 1000003, s"buckets must be in 1..1000003: $buckets")
      buckets
    } else {
      val n = if (knownCount >= 0) knownCount else df.count()
      Tune.scaledSortBuckets(n,
        math.max(1, df.sparkSession.sparkContext.defaultParallelism))
    }

  /** LEAKAGE-SAFE train/val/test split: near-duplicate documents must
    * land in the SAME split — a near-dup pair straddling train and
    * test is evaluation leakage ([[hashSplit]] alone cannot see it).
    * Split membership keys on the document's duplicate-CLUSTER id
    * (the connected component's min member over the caller-supplied
    * near-dup pair set; singletons key on their own id), so a whole
    * cluster moves together, and — because the component label is the
    * min id, stable under growth until clusters merge — adding new
    * documents never reassigns an existing cluster across splits.
    *
    * Scale: components shuffle slim (node, neighbour) rows only
    * ([[Dedup.connectedComponents]], large-star/small-star rounds); the
    * membership join keys on the doc id; the split itself is the same
    * narrow integer-hash projection as [[hashSplit]].
    *
    * Output: input columns + (grp, split).
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val comps = Dedup.connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", "__cid")
    val grouped = df.join(comps, col(idCol) === col("__cid"), "left")
      .withColumn("grp", coalesce(col("comp"), col(idCol)))
      .drop("__cid", "comp")
    val bucket = pmod(idScore(col("grp")), lit(100L))
    grouped.withColumn("split",
      when(bucket < trainPct, lit("train"))
        .when(bucket < trainPct + valPct, lit("val"))
        .otherwise(lit("test")))
  }
}
