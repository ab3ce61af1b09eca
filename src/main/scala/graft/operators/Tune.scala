package graft.operators

/** Input-bytes-derived shuffle parallelism — the 5M-doc postmortem's
  * lesson as engine policy instead of a manual env knob.
  *
  * The measured failure mode (BASELINE.md round-9): a 68 GB PPJoin
  * shuffle over 32 partitions puts >2 GB plus 32 concurrent sort
  * buffers on each task — the silent hung-job regime, observed twice.
  * The rule a 100 TB deployment applies is "size the partition count so
  * ONE shuffle partition fits comfortably in task memory"; this object
  * derives that count from the bytes actually entering the plan, so the
  * same job specification works at 5k and at 5M documents without
  * anyone re-tuning.
  *
  * AQE makes over-provisioning free at small scale: it coalesces
  * post-shuffle partitions down to its advisory size, so the derived
  * count is a CEILING for big inputs, not a tax on small ones. What AQE
  * alone cannot do is raise `spark.sql.shuffle.partitions` above the
  * configured value mid-query — the initial map-side split is decided
  * before any runtime statistics exist, which is exactly why an
  * input-derived initial value matters.
  */
object Tune {

  /** ~256 MB of (compressed) shuffle bytes per partition: large enough
    * to amortize task overhead, small enough that sort/join state for
    * one partition sits in a fraction of an executor-core's memory.
    */
  val DefaultTargetPartitionBytes: Long = 256L << 20

  /** Compressed-shuffle bytes produced per parquet input byte on the
    * PPJoin family's widest stage (shingle-exploded df join / prefix
    * rank window). Calibrated from the measured 5M-doc point: a ~68 GB
    * single-shuffle peak from a 0.93 GB documents.parquet (zstd both
    * sides) ≈ 73×; rounded up. Text parquet is dictionary+zstd packed
    * while the exploded shuffle carries one row per shingle — hence a
    * factor this large is expected, not pathological.
    */
  val PpjoinShuffleExpansion: Double = 75.0

  /** The corpus-wide TEXT family's widest shuffle (k-token span /
    * c-token block explode feeding a count or per-doc aggregate): one
    * bounded string per token, no join amplification — roughly the
    * k-times token bytes the PPJoin stage pays WITHOUT its prefix-join
    * widening, so a third of its factor.
    */
  val TextSpanShuffleExpansion: Double = 25.0

  /** Partition count for an estimated `inputBytes * expansion` shuffle,
    * floored at `floor` (use the core count — fewer partitions than
    * cores idles the cluster) and targeting `targetPartitionBytes` per
    * partition. Overflow-safe for any input size (double math, capped).
    */
  def shufflePartitions(inputBytes: Long, expansion: Double, floor: Int,
      targetPartitionBytes: Long = DefaultTargetPartitionBytes): Int = {
    require(inputBytes >= 0 && expansion > 0 && floor >= 1 &&
      targetPartitionBytes >= 1, "invalid Tune.shufflePartitions args")
    val est = inputBytes.toDouble * expansion
    val parts = math.ceil(est / targetPartitionBytes.toDouble)
    // 1M partitions ≈ 256 TB of shuffle at the default target — cap
    // keeps the Int math safe and the scheduler sane
    math.max(floor, math.min(parts, 1000000.0).toInt)
  }

  /** Estimated bytes ENTERING a frame's plan: the sum of its leaf
    * relations' Catalyst size estimates (file-source leaves report
    * on-disk file bytes). Used by [[ensureShufflePartitions]] to size
    * the shuffle width from what will actually be scanned.
    */
  def planInputBytes(df: org.apache.spark.sql.DataFrame): Long = {
    val tot = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    if (tot > BigInt(Long.MaxValue)) Long.MaxValue
    else math.max(0L, tot.toLong)
  }

  /** First-action hook for the shingle-exploding operator entry points
    * (the PPJoin/MinHash family): when the session's
    * `spark.sql.shuffle.partitions` was never EXPLICITLY set, derive it
    * from the bytes entering this plan and raise the session value —
    * making the documented hung-job regime (68 GB shuffle over the
    * 200-partition code default) un-enterable for library callers, not
    * just the bench mains. An explicitly-configured value is never
    * overridden: tuning wins over policy. Returns the partition count
    * in effect. Raise-only: a small corpus keeps the code default (AQE
    * coalesces over-provisioned shuffles down for free; what it cannot
    * do is raise the initial width mid-query — see object doc).
    */
  def ensureShufflePartitions(df: org.apache.spark.sql.DataFrame,
      expansion: Double = PpjoinShuffleExpansion,
      targetPartitionBytes: Long = DefaultTargetPartitionBytes): Int =
    ensureShufflePartitions(df.sparkSession, planInputBytes(df),
      expansion, targetPartitionBytes)

  /** Byte-level form of the guard (the df overload delegates here): the
    * session-mutation seam, so the derivation at the measured decade
    * points is testable without fabricating relations of exact sizes.
    */
  def ensureShufflePartitions(spark: org.apache.spark.sql.SparkSession,
      inputBytes: Long, expansion: Double,
      targetPartitionBytes: Long): Int = {
    val key = "spark.sql.shuffle.partitions"
    // RuntimeConfig.getAll lists only entries actually set (session or
    // SparkConf) — the SQLConf code default (200) is absent from it
    if (spark.conf.getAll.contains(key)) spark.conf.get(key).toInt
    else {
      val current = spark.conf.get(key).toInt
      val floor = math.max(1, spark.sparkContext.defaultParallelism)
      val derived = shufflePartitions(inputBytes, expansion,
        floor, targetPartitionBytes)
      if (derived > current) {
        spark.conf.set(key, derived.toString)
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"graft.Tune: derived spark.sql.shuffle.partitions=$derived " +
            s"from plan input bytes (was unset; code default $current)")
        derived
      } else current
    }
  }

  /** Documents per bucket for a persisted bucketed n-gram index: at
    * ~50k docs a bucket's prefix/shingle slice stays well inside one
    * task's memory (the measured 5M-doc build ran 96 buckets ≈ 52k
    * docs/bucket through the formerly sandbox-killing action,
    * BASELINE.md round-11), and the resulting file count stays
    * proportional to corpus size instead of fixed.
    */
  val DocsPerIndexBucket: Long = 50000L

  /** Corpus-size-derived bucket count for a persisted bucketed index —
    * the self-scaling rule behind `writeNgramIndexBucketed(buckets ≤ 0)`.
    * A FIXED bucket count is a scale footgun in both directions: too
    * few caps build parallelism and probe-side scan parallelism at the
    * next corpus decade (a 96-way ceiling is real at 100 TB); too many
    * at a small corpus pays file-count overhead for nothing. Floored at
    * `floor` (use the core count — fewer buckets than cores idles the
    * cluster on every probe) and capped at 65536 — beyond that,
    * per-bucket file handles dominate and a deployment should shard by
    * a higher-level partition first.
    */
  def scaledBuckets(rows: Long, floor: Int): Int = {
    require(rows >= 0 && floor >= 1, "invalid Tune.scaledBuckets args")
    val derived = math.ceil(rows.toDouble / DocsPerIndexBucket.toDouble)
    math.max(floor, math.min(derived, 65536.0).toInt)
  }

  /** Rows per score-range bucket for the composed-rank serialization
    * operators (`Sampling.shuffleRank` / `interleaveByWeight`): each
    * bucket is one `row_number` window partition, i.e. ONE task sorting
    * ~rows/buckets (id, score) pairs. ~1M slim rows sort in well under
    * a second inside a fraction of task memory; a FIXED bucket count
    * (the former 1024 default) makes that per-task sort grow linearly
    * with the corpus — multi-GB single-task sorts at 100 TB.
    */
  val RowsPerSortBucket: Long = 1L << 20

  /** Corpus-size-derived bucket count for the composed-rank operators —
    * the [[scaledBuckets]] self-scaling rule applied to score-range
    * buckets. Floored at `floor` (the core count: fewer buckets than
    * cores idles the cluster during the per-bucket sorts) and capped at
    * 1,000,003 (the idScore value space — more buckets than distinct
    * scores buys nothing).
    */
  def scaledSortBuckets(rows: Long, floor: Int): Int = {
    require(rows >= 0 && floor >= 1, "invalid Tune.scaledSortBuckets args")
    val derived = math.ceil(rows.toDouble / RowsPerSortBucket.toDouble)
    math.max(floor, math.min(derived, 1000003.0).toInt)
  }
}
