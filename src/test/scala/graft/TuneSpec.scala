package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Tune

/** Input-derived shuffle parallelism: the measured 5M-doc sizing rule
  * (BASELINE.md round-9 postmortem) as checked policy.
  */
class TuneSpec extends AnyFunSuite {

  test("derived counts reproduce the measured decade points") {
    val exp = Tune.PpjoinShuffleExpansion
    // sf0.1 documents (0.6 MB) and the 100x replica (87 MB): both sit
    // under the floor at local[32] — small points keep the decade
    // ratios comparable, exactly as the manual knob did
    assert(Tune.shufflePartitions(594568L, exp, floor = 32) === 32)
    assert(Tune.shufflePartitions(86837458L, exp, floor = 32) === 32)
    // the 1000x point (0.93 GB parquet -> ~68 GB shuffle): ~260
    // partitions of ~256 MB — the hung-job regime (32 x >2 GB) is
    // un-enterable under the derived default
    val p5m = Tune.shufflePartitions(928602216L, exp, floor = 32)
    assert(p5m >= 256 && p5m <= 280, s"5M-doc point derived $p5m")
  }

  test("monotonic in input, floored, capped, overflow-safe") {
    val a = Tune.shufflePartitions(1L << 30, 75.0, floor = 32)
    val b = Tune.shufflePartitions(1L << 33, 75.0, floor = 32)
    assert(b >= a)
    assert(Tune.shufflePartitions(0L, 75.0, floor = 16) === 16)
    // 100 TB at 75x expansion: capped, not Int-overflowed or negative
    val huge = Tune.shufflePartitions(100L << 40, 75.0, floor = 32)
    assert(huge === 1000000)
    intercept[IllegalArgumentException] {
      Tune.shufflePartitions(-1L, 75.0, floor = 32)
    }
  }

  test("session guard derives shuffle.partitions at the decade points") {
    // an isolated session with the key UNSET — the library-caller shape
    // the 5M-doc postmortem is about (code default 200 in force)
    val s = TestSpark.spark.newSession()
    val key = "spark.sql.shuffle.partitions"
    s.conf.unset(key)
    val exp = Tune.PpjoinShuffleExpansion
    val tgt = Tune.DefaultTargetPartitionBytes
    // sf0.1 (0.6 MB) and the 100x replica (87 MB): derived counts sit
    // UNDER the code default — raise-only guard leaves 200 (AQE
    // coalesces over-provisioned shuffles; the danger is only ever a
    // too-NARROW width)
    assert(Tune.ensureShufflePartitions(s, 594568L, exp, tgt) === 200)
    assert(!s.conf.getAll.contains(key), "small input must not set conf")
    assert(Tune.ensureShufflePartitions(s, 86837458L, exp, tgt) === 200)
    assert(!s.conf.getAll.contains(key))
    // the 1000x point (0.93 GB -> ~68 GB shuffle): the hung-job regime
    // under 200 partitions is re-derived to ~260 x 256 MB and SET on
    // the session
    val p5m = Tune.ensureShufflePartitions(s, 928602216L, exp, tgt)
    assert(p5m >= 256 && p5m <= 280, s"5M-doc point derived $p5m")
    assert(s.conf.get(key).toInt === p5m)

    // an EXPLICITLY configured session is never overridden, even at
    // the 5M-doc point — tuning wins over policy
    val s2 = TestSpark.spark.newSession()
    s2.conf.set(key, "7")
    assert(Tune.ensureShufflePartitions(s2, 928602216L, exp, tgt) === 7)
    assert(s2.conf.get(key) === "7")
  }

  test("planInputBytes reads leaf relation sizes; df guard is wired") {
    val spark = TestSpark.spark
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the table is one parquet file: its size is the on-disk byte count
    val onDisk = java.nio.file.Files.size(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"))
    val est = Tune.planInputBytes(docs)
    // Catalyst's file-source leaf stat is the on-disk bytes (x the
    // default compression factor 1.0) — allow slack for stat padding
    assert(est >= onDisk / 2 && est <= onDisk * 4,
      s"plan estimate $est vs on-disk $onDisk")
    // a filter above the scan must not hide the leaf
    assert(Tune.planInputBytes(docs.filter("doc_id % 2 = 0")) === est)
    // the df overload on an explicitly-configured session: no-op
    assert(Tune.ensureShufflePartitions(docs) ===
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  test("scaledBuckets: decade points, floor, cap") {
    // the measured 5M-doc build point (96 buckets ~ 52k docs/bucket)
    // is what the rule reproduces: 5M docs -> 100 buckets at 50k each
    assert(Tune.scaledBuckets(5000000L, 32) === 100)
    // small corpora floor at the core count, never below it
    assert(Tune.scaledBuckets(4500L, 32) === 32)
    assert(Tune.scaledBuckets(0L, 16) === 16)
    // the 500k decade sits at the floor on a 32-core box...
    assert(Tune.scaledBuckets(500000L, 32) === 32)
    // ...and above it on a smaller one
    assert(Tune.scaledBuckets(500000L, 8) === 10)
    // cap: beyond 65536 buckets, shard higher first
    assert(Tune.scaledBuckets(100L * 1000 * 1000 * 1000, 32) === 65536)
    intercept[IllegalArgumentException] { Tune.scaledBuckets(-1L, 32) }
    intercept[IllegalArgumentException] { Tune.scaledBuckets(1L, 0) }
  }
}
