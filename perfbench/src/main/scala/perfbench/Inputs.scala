package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ReplicaGen

/** Generated inputs. Base tables with the shapes of the sf0.1 testdata
  * (`documents`, `embeddings`, `lineitem`) are generated, then scaled
  * through [[graft.ReplicaGen]]'s public functions, exactly as the
  * scaling-decade replicas are. Seeded inputs land under
  * `<root>/seed-<n>/` and are reused by later runs with the same seed;
  * the seed-free migration inputs land under `<root>/migrate`. Staging
  * is never inside a timed region.
  */
final class Inputs(spark: SparkSession, root: String, val seed: Long) {
  import Inputs._
  import spark.implicits._

  val dir = s"$root/seed-$seed"

  /** Run `write` into a temporary directory and publish it under `path`
    * with a rename, unless an earlier run already published it. */
  private def staged(path: String)(write: String => Unit): String = {
    val dst = new File(path)
    if (!dst.exists()) {
      val tmp = new File(s"$path.tmp")
      Files.rm(tmp)
      tmp.getParentFile.mkdirs()
      write(tmp.getPath)
      require(tmp.renameTo(dst), s"could not publish $path")
    }
    path
  }

  // ---- documents ---------------------------------------------------------

  /** 5000 documents over a 31-word vocabulary (10–90 words, 20 sources,
    * 5 languages); every 12th is a light edit of a random earlier
    * original: the sf0.1 corpus's near-duplicate rate. Copies are never
    * copied, so every near-duplicate cluster is a star or a clique and
    * the pair graph's diameter (which sets the connected-components round
    * count) does not vary with the seed. */
  def documentsBase(salt: Long): DataFrame = {
    val rnd = new java.util.Random(seed * 1000003L + salt)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val langs = Array("en", "en", "en", "de", "fr", "es", "zh")
    val rows = (0 until BaseDocs).map { i =>
      val words =
        if (i % 12 == 11) {
          val w = originals(rnd.nextInt(originals.size)).clone()
          (0 until 1 + rnd.nextInt(1 + w.length / 25)).foreach { _ =>
            val at = rnd.nextInt(w.length)
            w(at) = Vocab((Vocab.indexOf(w(at)) + 1 + rnd.nextInt(
              Vocab.length - 1)) % Vocab.length)
          }
          w
        } else {
          val w = Array.fill(10 + rnd.nextInt(81))(Vocab(rnd.nextInt(Vocab.length)))
          originals += w
          w
        }
      val text = words.mkString(" ")
      (i.toLong, text, langs(rnd.nextInt(langs.length)), s"src${i % 20}",
        text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** `curate`'s documents: a ×[[DocsFactor]] replica, ranked by a
    * seeded hash: the first 1/200 is the held-out benchmark, the next
    * tenth arrives as [[ArrivalFiles]] equal parquet files with ascending
    * modification times (one per micro-batch), the rest is the corpus. */
  lazy val docs: String = staged(s"$dir/docs") { out =>
    val n = BaseDocs * DocsFactor
    val d = ReplicaGen.replicateAll(spark, "documents", documentsBase(1),
      DocsFactor).withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(xxhash64($"doc_id", lit(seed)), $"doc_id")) - 1).cache()
    val (nBench, nArrivals) = (n / 200, n / 10)
    val h = $"__r"
    val corpus = d.filter(h >= nBench + nArrivals).drop("__r")
    val bench = d.filter(h < nBench).drop("__r")
    corpus.repartition(Cores).write.parquet(s"$out/corpus.parquet")
    bench.coalesce(1).write.parquet(s"$out/bench.parquet")
    val arrivals = d.filter(h >= nBench && h < nBench + nArrivals)
      .withColumn("__f", pmod(h, lit(ArrivalFiles.toLong))).drop("__r")
      .repartition(ArrivalFiles, $"__f").cache()
    val t0 = System.currentTimeMillis() - ArrivalFiles * 60000L
    (0 until ArrivalFiles).foreach { i =>
      val tmp = s"$out/arrivals_tmp/b$i"
      arrivals.filter($"__f" === i).drop("__f").coalesce(1)
        .write.parquet(tmp)
      val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new File(f"$out/arrivals/b$i%03d.parquet")
      dst.getParentFile.mkdirs()
      require(part.renameTo(dst) && dst.setLastModified(t0 + i * 60000L))
    }
    Files.rm(new File(s"$out/arrivals_tmp"))
    arrivals.unpersist(); d.unpersist()
  }

  // ---- embeddings --------------------------------------------------------

  /** 2000 64-d vectors around 10 labelled centres, the sf0.1 shape. */
  lazy val embeddingsBase: String = staged(s"$dir/ivf/embeddings.parquet") { out =>
    val rnd = new java.util.Random(seed * 7919L + 3)
    val centres = Array.fill(10, Dims)(rnd.nextGaussian().toFloat)
    val rows = (0 until BaseVectors).map { i =>
      val l = rnd.nextInt(10)
      (i.toLong, Array.tabulate(Dims)(d =>
        centres(l)(d) + 1.5f * rnd.nextGaussian().toFloat).toSeq, l)
    }
    rows.toDF("vec_id", "embedding", "label").coalesce(1).write.parquet(out)
  }

  /** Repetition `rep`'s index content: [[IvfReplicas]] replicas of the
    * base under orthogonal transforms no other repetition or seed uses
    * (so no quantizer cache can turn a timed build into a hit), split
    * into the base (2/3) and two append segments, plus the seed-picked
    * query vectors. */
  def ivfRep(rep: Int): String = staged(s"$dir/ivf/rep-$rep") { out =>
    val base = spark.read.parquet(embeddingsBase)
    val first = 1 + (seed % 1000L).toInt * 1000 + rep * IvfReplicas
    val all = (first until first + IvfReplicas)
      .map(r => ReplicaGen.replica("embeddings", base, r))
      .reduce(_ unionAll _).select($"vec_id", $"embedding").cache()
    val h = pmod(xxhash64($"vec_id", lit(seed + rep)), lit(6L))
    all.filter(h < 4).repartition(Cores).write.parquet(s"$out/base.parquet")
    all.filter(h === 4).coalesce(Cores).write.parquet(s"$out/seg1.parquet")
    all.filter(h === 5).coalesce(Cores).write.parquet(s"$out/seg2.parquet")
    all.orderBy(xxhash64($"vec_id", lit(seed * 31 + rep)))
      .limit(Queries).select($"vec_id".as("qid"), $"embedding")
      .coalesce(1).write.parquet(s"$out/queries.parquet")
    all.unpersist()
  }

  // ---- lineitem ----------------------------------------------------------

  /** `rows` lineitem rows in the sf0.1 schema, keys from `firstId`. The
    * migration inputs do not depend on the seed (no sampling choice in
    * that workload does), so they are generated once per checkout. */
  def lineitem(rows: Long, firstId: Long): DataFrame = {
    def h(i: Int) = xxhash64($"id", lit(i))
    def pick(i: Int, n: Long) = pmod(h(i), lit(n))
    spark.range(firstId, firstId + rows).select(
      ($"id" / 4).cast("long").as("l_orderkey"),
      (pick(1, 20000L) + 1).as("l_partkey"),
      (pick(2, 1000L) + 1).as("l_suppkey"),
      (pmod($"id", lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pick(3, 50L) + 1).cast("double").as("l_quantity"),
      (pick(4, 10000000L) / 100.0 + 900.0).as("l_extendedprice"),
      (pick(5, 11L) / 100.0).as("l_discount"),
      (pick(6, 9L) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pick(7, 3L) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (pick(8, 2L) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + pick(9, 2400L * 86400L))
        .as("l_shipdate"))
  }

  /** `migrate`: a hive-partitioned `lineitem` with [[DailyPartitions]]
    * small `pt=` partitions and a latest partition that is a
    * ×[[MigrateFactor]] replica of a generated base (the bulk load), and
    * [[SmallTables]] tables `lineitem_s<k>` with three daily partitions
    * of [[DailyRows]] rows each (the per-table incremental loads). */
  lazy val migrate: String = staged(s"$root/migrate") { out =>
    def day(n: Int) = element_at(typedLit(Days),
      (pmod($"l_orderkey", lit(n.toLong)) + 1).cast("int"))
    lineitem(DailyRows * DailyPartitions, 0L)
      .withColumn("pt", day(DailyPartitions))
      .repartition($"pt").write.partitionBy("pt").parquet(s"$out/lineitem")
    ReplicaGen.replicateAll(spark, "lineitem",
        lineitem(MigrateBaseRows, 900000000L), MigrateFactor)
      .write.parquet(s"$out/lineitem/pt=$LatestDay")
    lineitem(DailyRows * 3 * SmallTables, 500000000L)
      .withColumn("tbl", pmod($"l_partkey", lit(SmallTables.toLong)))
      .withColumn("pt", day(3))
      .repartition($"tbl", $"pt").write.partitionBy("tbl", "pt")
      .parquet(s"$out/small")
    (0 until SmallTables).foreach(k => require(
      new File(s"$out/small/tbl=$k").renameTo(new File(s"$out/lineitem_s$k"))))
    Files.rm(new File(s"$out/small"))
  }
}

object Inputs {
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  val Vocab: Array[String] = ("a the big small fast slow data row column " +
    "table key value query scan filter join merge sort hash group agg " +
    "window stream batch spark line part order customer vector").split(" ")
  val BaseDocs = 5000
  val DocsFactor = 1
  val ArrivalFiles = 3
  val Dims = 64
  val BaseVectors = 2000
  val IvfReplicas = 1
  val Queries = 78
  val DailyPartitions = 24
  val DailyRows = 5000L
  val MigrateBaseRows = 150000L
  val MigrateFactor = 4
  val SmallTables = 4
  val Days: IndexedSeq[String] =
    (0 until DailyPartitions).map(d => java.time.LocalDate.of(2026, 1, 1)
      .plusDays(d).toString.replace("-", ""))
  val LatestDay: String = java.time.LocalDate.of(2026, 1, 1)
    .plusDays(DailyPartitions).toString.replace("-", "")
}

object Files {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(): Unit
  }

  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(bytes).sum
    else f.length()
}
