package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.config.ConfigLoader
import graft.model.{DestColumn, MigrationSpec, SourceColumn, WriteMode}
import graft.operators.{Decontaminate, Dedup, IvfIndex, Sampling, Similarity}
import graft.run.Migrator
import graft.sinks.{FileSink, Sink}
import graft.sources.{Source, SourceReader}
import graft.streaming.IngestStream

/** What a workload needs from the run: the session, the staged inputs,
  * a per-run scratch directory (emptied when the run starts) and the
  * engine's micro-batch listener. */
final class Ctx(val spark: SparkSession, val inputs: Inputs,
    val runDir: String, val benchDir: String, val streamTimes: StreamTimes) {
  /** Drop leftover cached or checkpointed RDDs from an earlier
    * repetition. */
  def unpersistAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
}

/** One repetition's measurements: the measured wall of the whole job,
  * named samples (a name may repeat, e.g. one sample per probe batch),
  * the operations attempted, the failed checks, and the figures the
  * traced run's ratios need. */
final case class Rep(wall: Double, samples: Seq[(String, Double)], ops: Int,
    failures: Seq[String], extras: Map[String, Double] = Map.empty)

/** An end-to-end metric of one workload. */
final case class Metric(name: String, unit: String, value: Double)

abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Stage inputs (reused across runs with the same seed). */
  def prepare(): Unit
  /** One closed-loop repetition; `check` runs the output checks. */
  def rep(i: Int, sp: Spans, check: Boolean): Rep
  /** Untimed, unchecked work before the timed repetitions. None by
    * default: a repetition is then timed as a fresh application runs it,
    * JIT and codegen included. */
  def warmUp(): Unit = ()
  /** The end-to-end metrics every workload reports, each a median over
    * repetitions: of the whole job's wall, of its bulk builds' wall, and
    * of the mean latency of the small operations issued against what it
    * built. */
  def metrics(reps: Seq[Rep]): Seq[Metric] = {
    def perRep(f: Seq[Double] => Double, key: String) =
      Stats.median(reps.map(r => f(r.samples.collect { case (`key`, v) => v })))
    Seq(
      Metric("job_s", "s", Stats.median(reps.map(_.wall))),
      Metric("build_s", "s", perRep(_.sum, "build_s")),
      Metric("step_s", "s", perRep(xs => xs.sum / xs.size, "step_s")))
  }

  protected def spark: SparkSession = ctx.spark
}

object Workload {
  val Names: Seq[String] = Seq("migrate", "curate")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "migrate" => new MigrateWorkload(ctx)
    case "curate"  => new CurateWorkload(ctx)
    case other     => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Training-data curation: the documents pipeline ([[DocsPipeline]])
  * then the vector-index lifecycle ([[IvfLifecycle]]) in one repetition.
  * Both are index builds followed by small operations against the index
  * (micro-batches, probe batches), so their builds and steps pool. */
final class CurateWorkload(c: Ctx) extends Workload(c) {
  val name = "curate"
  private val docs = new DocsPipeline(c)
  private val ivf = new IvfLifecycle(c)

  def prepare(): Unit = { docs.prepare(); ivf.prepare() }

  def rep(i: Int, sp: Spans, check: Boolean): Rep = {
    val rs = Seq(docs.rep(i, sp, check), ivf.rep(i, sp, check))
    Rep(rs.map(_.wall).sum, rs.flatMap(_.samples), rs.map(_.ops).sum,
      rs.flatMap(_.failures), rs.flatMap(_.extras).toMap)
  }
}

// ---- migrate -------------------------------------------------------------

/** Delegating source: spans around the scan it builds for the Migrator. */
final class TracedSource(in: Source, sp: Spans) extends Source {
  def table(name: String): DataFrame = in.table(name)
  def schemaOf(name: String): Seq[SourceColumn] = in.schemaOf(name)
  def partitionColumns(name: String): Set[String] = in.partitionColumns(name)
  def testConnection(): Boolean = in.testConnection()
  override def buildScan(spec: MigrationSpec): DataFrame =
    sp.span("sources.build_scan")(in.buildScan(spec))
}

/** Delegating sink: a span around the write the Migrator hands it. */
final class TracedSink(in: Sink, sp: Spans) extends Sink {
  def testConnection(): Boolean = in.testConnection()
  override def ddlType(dt: org.apache.spark.sql.types.DataType): String =
    in.ddlType(dt)
  override def ensureNamespace(ns: String): Unit = in.ensureNamespace(ns)
  def tableExists(t: String): Boolean = in.tableExists(t)
  def createTable(t: String, cols: Seq[DestColumn],
      comment: Option[String]): Unit = in.createTable(t, cols, comment)
  override def tableComment(t: String): Option[String] = in.tableComment(t)
  override def setTableComment(t: String, c: String): Boolean =
    in.setTableComment(t, c)
  def truncateOrDrop(t: String): Unit = in.truncateOrDrop(t)
  def destSchema(t: String): Option[Seq[DestColumn]] = in.destSchema(t)
  def addColumns(t: String, cols: Seq[DestColumn]): Unit = in.addColumns(t, cols)
  def write(df: DataFrame, t: String, mode: WriteMode): Unit =
    sp.span("sinks.write")(in.write(df, t, mode))
}

/** The reference's job, `Migrator.migrate` in overwrite mode into a
  * parquet FileSink through the committed `migrate.json` mapping: a bulk
  * load (the latest `pt=` partition of a large hive-partitioned
  * lineitem), then incremental loads of [[Inputs.SmallTables]] small
  * tables, one table per call. */
final class MigrateWorkload(c: Ctx) extends Workload(c) {
  val name = "migrate"
  private lazy val cfg = s"${ctx.benchDir}/migrate.json"
  private lazy val mapping = ConfigLoader.selectTableMapping(cfg, "lineitem")
  private lazy val compat = ConfigLoader.compatFrom(ConfigLoader.loadFlat(cfg))
  private lazy val src = ctx.inputs.migrate
  private lazy val dest = s"${ctx.runDir}/migrate_out"
  private val tables = "lineitem" +:
    (0 until Inputs.SmallTables).map(k => s"lineitem_s$k")

  private def spec(table: String) = MigrationSpec(sourceTable = table,
    destTable = s"${table}_out", mode = WriteMode.Overwrite,
    mapping = mapping, compat = compat)

  /** Fingerprint of a frame: row count and two order-insensitive hash
    * aggregates over every column. */
  private def fingerprint(df: DataFrame): Row = {
    val h = xxhash64(df.columns.map(col): _*)
    df.agg(count(lit(1)), sum(pmod(h, lit(1L << 31))), bit_xor(h)).head()
  }

  /** The same mapping in plain Spark over a table's latest partition:
    * rename l_orderkey, the `concat` and `format` computed columns,
    * listed columns first. */
  private def rendered(table: String): DataFrame = {
    val latest = new File(s"$src/$table").listFiles().map(_.getName)
      .filter(_.startsWith("pt=")).max
    val d = spark.read.parquet(s"$src/$table/$latest")
    val rest = d.columns.filterNot(_ == "l_orderkey").map(col)
    d.select(Seq(col("l_orderkey").as("order_id"),
      format_string("%010d", col("l_orderkey")).as("ship_label"),
      concat(col("l_returnflag"), lit("/"), col("l_linestatus"))
        .as("flag_status")) ++ rest: _*)
  }
  private lazy val expected: Map[String, (StructType, Row)] =
    tables.map { t => val r = rendered(t); t -> (r.schema, fingerprint(r)) }.toMap

  def prepare(): Unit = expected: Unit

  /** Repetitions are short enough that the JIT would otherwise dominate
    * the first one: one untimed repetition. */
  override def warmUp(): Unit = rep(0, NoSpans, check = false): Unit

  def rep(i: Int, sp: Spans, check: Boolean): Rep = {
    ctx.unpersistAll()
    val source = new TracedSource(new SourceReader(spark, src), sp)
    val sink = new TracedSink(new FileSink(spark, dest, "parquet"), sp)
    val m = new Migrator(source, sink, _ => ())
    val runs = tables.map { t =>
      val (report, wall) = Main.time(sp.span("run.migrate")(m.migrate(spec(t))))
      (t, report.rowsWritten, wall)
    }
    val fails = if (!check) Nil else runs.flatMap { case (t, rows, _) =>
      val out = spark.read.parquet(s"$dest/${t}_out")
      val ddl = m.translateDdl(source.schemaOf(t), spec(t))
        .map(d => (d.name, d.typeName))
      val got = out.schema.fields.toSeq
        .map(f => (f.name, graft.schema.SchemaMapper.toBigQueryType(f.dataType)))
      val (schema, fp) = expected(t)
      val aligned = out.select(schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType)): _*)
      Seq(
        if (got != ddl) Some(s"$t: schema $got != translateDdl $ddl") else None,
        if (out.columns.toSeq != schema.fieldNames.toSeq)
          Some(s"$t: columns ${out.columns.toSeq}") else None,
        if (rows != fp.getLong(0)) Some(s"$t: rows $rows != ${fp.getLong(0)}") else None,
        Option(fingerprint(aligned)).filter(_ != fp)
          .map(f => s"$t: fingerprint $f != $fp")).flatten
    }
    val walls = runs.map(_._3)
    Rep(walls.sum, ("build_s" -> walls.head) +: walls.tail.map("step_s" -> _),
      runs.size, fails,
      Map("rows_written" -> runs.map(_._2).sum.toDouble))
  }
}

// ---- curate: documents ---------------------------------------------------

/** One documents input: corpus, held-out benchmark and arrival files. */
final class DocSet(spark: SparkSession, val dir: String) {
  def corpus: DataFrame = spark.read.parquet(s"$dir/corpus.parquet")
  def bench: DataFrame = spark.read.parquet(s"$dir/bench.parquet")
  val arrivalDir = s"$dir/arrivals"
  lazy val nDocs: Double = (corpus.count() + bench.count()).toDouble
  lazy val texts: Map[Long, String] = corpus.select("doc_id", "text")
    .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  lazy val benchIndex: Checks.Index = {
    val ix = new Checks.Index
    bench.select("doc_id", "text").collect()
      .foreach(r => ix.add(r.getLong(0), r.getString(1)))
    ix
  }
  /** (doc_id, text, micro-batch) of every arrival. */
  lazy val arrivals: Seq[(Long, String, Int)] =
    new File(arrivalDir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted.toSeq.zipWithIndex
      .flatMap { case (f, b) =>
        spark.read.parquet(s"$arrivalDir/$f").select("doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getString(1), b))
      }
}

/** Curate a documents corpus, index what survives deduplication, then
  * keep it deduplicated as documents arrive:
  *  1. the `pipeline_hygiene` composition, every operator's output
  *     materialized: decontaminate against the held-out split, PPJoin
  *     pairs, cluster representatives, per-source cap and hash split;
  *  2. `Dedup.writeNgramIndexBucketed` over the cluster representatives;
  *  3. `IngestStream.run` (AvailableNow, one arrival file per
  *     micro-batch) against that index. */
final class DocsPipeline(ctx: Ctx) {
  private def spark = ctx.spark
  private lazy val in = new DocSet(spark, ctx.inputs.docs)

  def prepare(): Unit = (in.nDocs, in.arrivals): Unit

  def rep(i: Int, sp: Spans, check: Boolean): Rep = {
    ctx.unpersistAll()
    val (corp, ben) = (in.corpus, in.bench)
    val ((out, keep, pairsOut), curate) = Main.time {
      val contaminated = sp.span("operators.decontaminate") {
        Decontaminate.overlapPairs(corp, ben, "doc_id", "text", n = 3,
          minShared = 3).select("doc_id").distinct().localCheckpoint(true)
      }
      val clean = corp.join(contaminated, Seq("doc_id"), "left_anti")
      val pairs = sp.span("operators.dedup.pairs") {
        Dedup.ngramJaccardPairs(clean, "doc_id", "text", n = 3,
          threshold = 0.5).select("id_a", "id_b").localCheckpoint(true)
      }
      val keep = sp.span("operators.dedup.representatives") {
        Dedup.clusterRepresentatives(clean, pairs, "doc_id", col("n_chars"))
          .select(col("keep_id").as("doc_id")).localCheckpoint(true)
      }
      val out = sp.span("operators.sampling") {
        Sampling.hashSplit(Sampling.capPerGroup(clean.join(keep, "doc_id"),
          "source", "doc_id", col("n_chars"), n = 10), "doc_id")
          .select("doc_id", "split").collect()
      }
      (out, corp.join(keep, "doc_id"), pairs.count())
    }
    val prefix = s"perfbench_ingest_$i"
    val work = s"${ctx.runDir}/ingest-$i"
    ctx.streamTimes.take()
    val (_, build) = Main.time(sp.span("operators.dedup.index_build") {
      Dedup.writeNgramIndexBucketed(keep, prefix, "doc_id", "text",
        n = 3, threshold = 0.5, buckets = Inputs.Cores)
    })
    val (_, run) = Main.time(sp.span("streaming.run") {
      IngestStream.run(spark, in.arrivalDir, prefix, outDir = s"$work/out",
        checkpointDir = s"$work/checkpoint", maxFilesPerTrigger = 1)
    })
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val batches = ctx.streamTimes.take()
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    val files = in.arrivals.map(_._3).distinct.size
    if (batches.size != files)
      fails += s"${batches.size} micro-batches for $files files"
    if (check) {
      val indexed = keep.select("doc_id").collect().map(_.getLong(0)).toSeq
      fails ++= checkCurated("representatives", indexed)
      fails ++= checkCurated("sampled output", out.map(_.getLong(0)).toSeq)
      fails ++= checkIngest(indexed,
        spark.read.parquet(s"$work/out").select("doc_id").collect()
          .map(_.getLong(0)).toSet)
    }
    Seq("df", "prefix", "shingles")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    Files.rm(new File(work))
    Rep(curate + build + run,
      Seq("build_s" -> build) ++ batches.map("step_s" -> _._2 / 1e3) ++
        batches.map("add_batch_s" -> _._3 / 1e3) ++
        batches.map(b => "engine_overhead_s" -> (b._2 - b._3) / 1e3),
      6, fails.take(5).toSeq, Map("pairs_out" -> pairsOut.toDouble))
  }

  /** No survivor is contaminated, no two survivors are near-duplicates.
    * Run on every cluster representative, not only on the sampled
    * output, so that pairs the dedup missed cannot hide behind the
    * per-source cap. */
  private def checkCurated(what: String, ids: Seq[Long]): Seq[String] = {
    val dirty = ids.filter(id => in.benchIndex.sharing(in.texts(id), 3).nonEmpty)
    val survivors = new Checks.Index
    ids.foreach(id => survivors.add(id, in.texts(id)))
    val dups = ids.flatMap(id =>
      survivors.partners(in.texts(id), 0.5, self = id).map(o => (id, o)))
    Seq(
      if (ids.isEmpty) Some("no survivors") else None,
      if (ids.distinct.size != ids.size) Some("duplicate survivor ids") else None,
      if (dirty.nonEmpty) Some(s"contaminated survivors ${dirty.take(5)}") else None,
      if (dups.nonEmpty) Some(s"near-duplicate survivors ${dups.take(5)}") else None
    ).flatten.map(f => s"$what: $f")
  }

  /** An arrival is accepted exactly when it has no Jaccard >= 0.5 partner
    * in the indexed corpus or among arrivals accepted in earlier
    * micro-batches. */
  private def checkIngest(indexed: Seq[Long], accepted: Set[Long]): Seq[String] = {
    val corpus = new Checks.Index
    indexed.foreach(id => corpus.add(id, in.texts(id)))
    val earlier = new Checks.Index
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    in.arrivals.groupBy(_._3).toSeq.sortBy(_._1).foreach { case (_, docs) =>
      docs.foreach { case (id, text, b) =>
        val dup = corpus.partners(text, 0.5).nonEmpty ||
          earlier.partners(text, 0.5).nonEmpty
        if (accepted(id) && dup) fails += s"accepted near-duplicate $id (batch $b)"
        if (!accepted(id) && !dup) fails += s"rejected unique arrival $id (batch $b)"
      }
      docs.filter(d => accepted(d._1)).foreach(d => earlier.add(d._1, d._2))
    }
    if (accepted.isEmpty || accepted.size == in.arrivals.size)
      fails += s"${accepted.size} of ${in.arrivals.size} arrivals accepted"
    fails.toSeq
  }
}

// ---- curate: vectors -----------------------------------------------------

/** The IVF index lifecycle on content no earlier repetition used: build
  * the base on 2/3 of the vectors, append two segments, probe query
  * batches at the fixed production nprobe, compact, check recall. */
final class IvfLifecycle(ctx: Ctx) {
  import IvfLifecycle._
  private def spark = ctx.spark

  def prepare(): Unit = ctx.inputs.ivfRep(1): Unit

  def rep(i: Int, sp: Spans, check: Boolean): Rep = {
    ctx.unpersistAll()
    val d = ctx.inputs.ivfRep(i)
    val path = s"${ctx.runDir}/ivf-$i"
    val Seq(base, seg1, seg2, queries) =
      Seq("base", "seg1", "seg2", "queries").map(t => spark.read.parquet(s"$d/$t.parquet"))
    val qrows = queries.collect()
    val schema = queries.schema
    val batches = qrows.grouped(Inputs.Queries / Batches).toSeq
      .map(b => spark.createDataFrame(java.util.Arrays.asList(b: _*), schema))
    val (_, build) = Main.time(sp.span("operators.ivf.write") {
      IvfIndex.write(base, path, dims = Inputs.Dims)
    })
    val (_, a1) = Main.time(sp.span("operators.ivf.append") {
      IvfIndex.appendVectors(spark, path, seg1)
    })
    val (_, a2) = Main.time(sp.span("operators.ivf.append") {
      IvfIndex.appendVectors(spark, path, seg2)
    })
    val probes = batches.map { q =>
      Main.time(sp.span("operators.ivf.probe") {
        IvfIndex.probe(spark, path, q, k = K, nprobe = NProbe).collect()
      })
    }
    val (_, compact) = Main.time(sp.span("operators.ivf.compact") {
      IvfIndex.compact(spark, path)
    })
    val results = probes.map(_._1.length).sum
    var fails = Seq.empty[String]
    var recall = Double.NaN
    if (check) {
      def ranked(df: DataFrame) = df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val all = base.unionByName(seg1).unionByName(seg2)
      val exact = ranked(Similarity.bruteForceTopK(all, queries, K))
      val nlist = IvfIndex.meta(spark, path).get._1
      val full = ranked(IvfIndex.probe(spark, path, queries, K, nprobe = nlist))
      val at = IvfIndex.probe(spark, path, queries, K, nprobe = NProbe)
        .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      recall = exact.count { case (q, id, _) => at.contains((q, id)) }.toDouble /
        exact.size
      fails = Seq(
        if (exact.size != qrows.length * K) Some(s"brute force returned ${exact.size}") else None,
        if (full != exact) Some(s"full probe differs from brute force on " +
          s"${(full diff exact).size + (exact diff full).size} rows") else None,
        if (results == 0) Some("probes returned nothing") else None).flatten
    }
    val n = base.count() + seg1.count() + seg2.count()
    val bytes = Files.bytes(new File(path))
    Files.rm(new File(path))
    Rep(build + a1 + a2 + compact + probes.map(_._2).sum,
      ("build_s" -> build) +: probes.map("step_s" -> _._2),
      4 + probes.size, fails,
      Map("probe_results" -> results.toDouble, "index_bytes" -> bytes.toDouble,
        "recall_at_10" -> recall,
        "vector_bytes" -> n * Inputs.Dims * 4.0))
  }
}

object IvfLifecycle {
  val K = 10
  /** IvfIndex.probe's default: the production nprobe. */
  val NProbe = 8
  val Batches = 2
}

