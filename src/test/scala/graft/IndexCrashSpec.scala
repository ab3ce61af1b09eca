package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IndexVersions, IvfIndex, IvfPqIndex,
  SegmentedIndex, Shards, Similarity}

/** Crash windows of every mutating commit protocol, table-driven: for
  * each layout (IVF, IVF-PQ, shards) and each commit step of its
  * mutations, the mutation is stopped right after that step through the
  * [[IndexVersions.afterStep]] seam. At every such crash point the reads
  * stay exact — probes equal brute force over the committed rows,
  * `Shards.readCorpus` returns exactly the committed documents — and the
  * next mutation heals the dirs the crash left behind.
  */
class IndexCrashSpec extends SparkSpec {
  import spark.implicits._

  private final case class Crash(step: String)
    extends RuntimeException(s"crash after $step")

  /** Run `mutation`, stopping it right after commit step `step`. */
  private def crashAfter(step: String)(mutation: => Any): Unit = {
    IndexVersions.afterStep = s => if (s == step) throw Crash(s)
    try assert(intercept[Crash](mutation).step == step)
    finally IndexVersions.afterStep = _ => ()
  }

  private def e = Tables(spark, sf001, "embeddings")
  private def queries =
    e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding")
  private def base = e.filter($"vec_id" % 3 =!= 0)
  private def batchA = e.filter($"vec_id" % 6 === 0)
  private def batchB = e.filter($"vec_id" % 6 === 3)

  private def ranked(df: DataFrame) =
    df.select("qid", "id", "rank").orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq

  private def brute(corpus: DataFrame) =
    ranked(Similarity.bruteForceTopK(corpus, queries, k = 5))

  /** One vector-index kind under test. */
  private case class Vec(name: String, build: (DataFrame, String) => Unit,
      append: (String, DataFrame) => Long, compact: String => Unit,
      probe: String => Seq[Seq[Any]], liveSegs: String => Seq[Long])

  private val ivf = Vec("IVF",
    (c, d) => IvfIndex.write(c, d, dims = 64, nlist = 8): Unit,
    (d, b) => IvfIndex.appendVectors(spark, d, b),
    d => IvfIndex.compact(spark, d, nlist = 8): Unit,
    d => ranked(IvfIndex.probe(spark, d, queries, k = 5, nprobe = 8)),
    d => IvfIndex.liveSegs(spark, d))

  private val ivfPq = Vec("IVF-PQ",
    (c, d) => IvfPqIndex.write(c, d, dims = 64, nlist = 8): Unit,
    (d, b) => IvfPqIndex.append(spark, d, b),
    d => IvfPqIndex.compact(spark, d): Unit,
    d => ranked(IvfPqIndex.probe(spark, d, queries, rerankFrom = e, k = 5,
      nprobe = 8, rerank = 100000)),
    d => IvfPqIndex.liveSegs(spark, d))

  /** (crash step, the mutation it stops, committed corpus after the
    * crash, live segments after the crash, segment dirs the crash left
    * that the manifest does not list as live). Every case starts from
    * base + segment 1 (batch A); the compaction cases also commit
    * segment 2 (batch B) first. */
  private val vecCases: Seq[(String, String, () => DataFrame, Seq[Long],
      Seq[Long])] = Seq(
    ("segment-written", "append", () => base.unionByName(batchA),
      Seq(1L), Seq(2L)),
    ("manifest-flipped", "append",
      () => base.unionByName(batchA).unionByName(batchB),
      Seq(1L, 2L), Seq.empty),
    ("base-flipped", "compact", () => e, Seq.empty, Seq(1L, 2L)),
    ("manifest-pruned", "compact", () => e, Seq.empty, Seq(1L, 2L)))

  for (ix <- Seq(ivf, ivfPq);
       (step, op, committed, live, leftover) <- vecCases) {
    test(s"${ix.name} $op crash after $step: probes == brute force over " +
        "the committed rows; the next mutation heals the leftover dirs") {
      val dir = tmpDir(s"crash-${ix.name}-$step")
      ix.build(base, dir)
      assert(ix.append(dir, batchA) == 1L)
      assert(ix.probe(dir) == brute(base.unionByName(batchA)))
      if (op == "append") crashAfter(step)(ix.append(dir, batchB))
      else {
        assert(ix.append(dir, batchB) == 2L)
        crashAfter(step)(ix.compact(dir))
      }
      val want = brute(committed())
      // an uncommitted segment is invisible; a manifest row at or below
      // segs_upto is ignored
      assert(ix.liveSegs(dir) == live)
      assert(ix.probe(dir) == want,
        s"the crash window after $step must probe exactly")
      assert(leftover.forall(SegmentedIndex.dirsOnDisk(spark, dir).contains))
      if (step == "base-flipped")
        assert(SegmentedIndex.committedSegs(spark, dir) == Seq(1L, 2L),
          "the unpruned manifest still lists the folded segments")
      // an empty append heals: stale manifest rows dropped, orphan and
      // subsumed segment dirs reclaimed
      assert(ix.append(dir, e.filter($"vec_id" < 0)) == -1L)
      leftover.foreach { n =>
        assert(!new java.io.File(SegmentedIndex.segDir(dir, n)).exists(),
          s"heal must reclaim segment dir $n")
      }
      assert(SegmentedIndex.dirsOnDisk(spark, dir).sorted == live)
      assert(SegmentedIndex.committedSegs(spark, dir) == live)
      assert(ix.liveSegs(dir) == live)
      assert(ix.probe(dir) == want)
    }
  }

  private val shardMass = 25000L
  private def docs(from: Long, to: Long) =
    (from to to).map(i => (i, (i % 301) + 20)).toDF("doc_id", "m")

  private def ids(df: DataFrame): Seq[Long] =
    df.select($"doc_id").collect().map(_.getLong(0)).toSeq.sorted

  private def shardDirs(out: String): Seq[Long] =
    new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("shard=")).map(_.stripPrefix("shard=").toLong)
      .toSeq.sorted

  private def manifestIds(out: String): Seq[Long] =
    Shards.readManifest(spark, out).select($"shard").collect()
      .map(_.getLong(0)).toSeq.sorted

  /** (crash step, the mutation it stops, whether the crash leaves dirs
    * the committed manifest does not describe). The base layout holds
    * docs 1–1000; the compaction cases first append two small batches,
    * so there are small shards to fold. Every completed or crashed
    * mutation here keeps the same document set: an append of docs
    * 5001–5050 is committed only once the manifest flips. */
  private val shardCases: Seq[(String, String, Boolean)] = Seq(
    ("shards-written", "append", true),
    ("manifest-flipped", "append", false),
    ("shards-written", "compact", true),
    ("manifest-flipped", "compact", true),
    ("sources-deleted", "compact", false))

  for ((step, op, dead) <- shardCases) {
    test(s"Shards $op crash after $step: readCorpus returns exactly the " +
        "committed documents; the next mutation heals the leftover dirs") {
      val out = tmpDir(s"crash-shards-$op-$step")
      Shards.writeShards(docs(1L, 1000L), out, "doc_id", $"m", shardMass,
        buckets = 16): Unit
      val want =
        if (op == "append") {
          crashAfter(step)(Shards.appendShards(docs(5001L, 5050L), out,
            "doc_id", $"m", shardMass, buckets = 16))
          if (step == "shards-written") (1L to 1000L)
          else (1L to 1000L) ++ (5001L to 5050L)
        } else {
          Seq((6001L, 6040L), (6041L, 6080L)).foreach { case (a, b) =>
            Shards.appendShards(docs(a, b), out, "doc_id", $"m", shardMass,
              buckets = 16): Unit
          }
          crashAfter(step)(
            Shards.compactShards(spark, out, "doc_id", shardMass))
          (1L to 1000L) ++ (6001L to 6080L)
        }
      assert(ids(Shards.readCorpus(spark, out)) == want.toSeq,
        s"readCorpus must be exact after a crash after $step")
      assert((shardDirs(out) != manifestIds(out)) == dead)
      // the next mutation (an empty append) heals: dirs == manifest, and
      // the raw read agrees with readCorpus again
      Shards.appendShards(docs(1L, 0L), out, "doc_id", $"m", shardMass,
        buckets = 16): Unit
      assert(shardDirs(out) == manifestIds(out))
      assert(ids(spark.read.parquet(out)) == want.toSeq)
      assert(ids(Shards.readCorpus(spark, out)) == want.toSeq)
    }
  }
}
