package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ExprBridge.{toColumn, toExpression}

/** Explicit Bloom-filter semi-join pruning — the runtime-filter pattern
  * for selective joins, as a first-class operator: build a Bloom filter
  * over the small side's keys (one aggregate), broadcast the single
  * sketch row, and filter the LARGE side BEFORE its shuffle. At 100 TB
  * the win is that non-matching fact rows never enter the exchange —
  * for a 1% -selective dimension that is ~99% of the join's shuffle
  * bytes eliminated for the cost of one broadcast of a few MB.
  *
  * Exactness: a Bloom filter admits false positives only, and the
  * subsequent real join removes them — results are identical to the
  * unpruned join (asserted in BloomPruneSpec and the q_bloom_join gate
  * row). Spark's own InjectRuntimeFilter applies this automatically in
  * narrow cases; the explicit operator covers the cases the rule
  * doesn't fire for (pre-aggregated builds, reused filters, semi-join
  * pruning without the join).
  *
  * Uses Spark's native BloomFilterAggregate / BloomFilterMightContain
  * catalyst expressions (codegen'd; not exposed in the public function
  * registry — also surfaced as graft_bloom_agg / graft_might_contain
  * SQL functions via GraftExtensions).
  */
object BloomPrune {

  /** Aggregate a column of keys into one binary Bloom sketch. */
  def bloomAgg(key: Column, expectedItems: Long, numBits: Long): Column =
    toColumn(new BloomFilterAggregate(
      XxHash64(Seq(toExpression(key)), 42L),
      toExpression(lit(expectedItems)),
      toExpression(lit(numBits))).toAggregateExpression())

  /** Membership probe against a sketch built by [[bloomAgg]]. */
  def mightContain(bloom: Column, key: Column): Column =
    toColumn(BloomFilterMightContain(toExpression(bloom),
      XxHash64(Seq(toExpression(key)), 42L)))

  /** Filter `probe` down to rows whose `probeKey` MIGHT appear in
    * `build`'s `buildKey` set (false positives possible, false
    * negatives impossible) — the large-side pre-shuffle prune.
    */
  def prune(probe: DataFrame, build: DataFrame, probeKey: String,
      buildKey: String, expectedItems: Long,
      numBits: Long = 8L * 1024 * 1024): DataFrame = {
    // might_contain requires a CONSTANT (or scalar-subquery) sketch, so
    // materialize the single aggregate row driver-side and embed it as
    // a literal — the same thing Spark's InjectRuntimeFilter does with
    // its materialized subquery result. Bounded: one row of numBits/8
    // bytes (default 1 MB), independent of build-side cardinality.
    // Aggregated on every call: the sketch must reflect the build
    // side's current content, not whatever an earlier call saw.
    val sketch = build.agg(bloomAgg(col(buildKey), expectedItems, numBits)
      .as("__bloom")).head().getAs[Array[Byte]](0)
    probe.filter(mightContain(lit(sketch), col(probeKey)))
  }

  /** Bloom-pruned inner equi-join: prune the probe side, then run the
    * real join (which removes Bloom false positives) — bit-identical
    * results to `probe.join(build, probeKey === buildKey)` with the
    * probe-side shuffle reduced to ~the matching rows.
    */
  def join(probe: DataFrame, build: DataFrame, probeKey: String,
      buildKey: String, expectedItems: Long,
      numBits: Long = 8L * 1024 * 1024): DataFrame =
    prune(probe, build, probeKey, buildKey, expectedItems, numBits)
      .join(build, col(probeKey) === col(buildKey))
}
