package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path}
import org.apache.hadoop.fs.viewfs.ViewFileSystem
import org.apache.hadoop.hdfs.DistributedFileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType,
  StructType}

/** Versioned-index pointer commits — the [[graft.streaming.UpsertSink]]
  * exactly-once pattern applied to the persisted dedup indexes: a
  * compaction writes index version N+1 BESIDE version N and flips a
  * pointer file last (write-temp + atomic rename), so the rebuild crash
  * window is zero — a crash mid-rebuild leaves the pointer (and every
  * reader) on version N, and rollback is "move the pointer back".
  *
  * Layout: version data lives under `<root>/_ixvN` for path-based
  * indexes ([[Similarity.writeSignIndex]] layouts) or under table names
  * `<prefix>_ixvN_*` for bucketed-catalog indexes; the pointer file
  * `_graft_index_current` sits at the root (for table prefixes: the
  * prefix's would-be warehouse directory). The underscore prefix keeps
  * version dirs invisible to Spark's file listing, so a LEGACY flat
  * layout at the root stays readable while its first versioned rebuild
  * is in flight — no "conflicting partition structure" window.
  *
  * Resolution: pointer present → the version dir/prefix; absent → the
  * root itself (legacy flat layout, generation zero). All probe/attach
  * entry points resolve through here, so a committed compaction is
  * picked up by the NEXT probe with no caller involvement.
  *
  * Object-store safety: the rename behind the pointer flip is atomic
  * on HDFS and local filesystems but NOT on object stores (an S3A
  * rename is copy+delete), so a reader in that window could observe NO
  * pointer and silently resolve to generation zero. To close it,
  * [[commit]] also drops a monotonically named marker file
  * (`_graft_index_current.vN`, a single create — atomic and
  * read-after-write-consistent on every store including S3) BEFORE the
  * rename, and [[currentVersion]] resolves to the MAX of the pointer
  * value and the marker versions: in the rename window the markers
  * still name version N, never generation zero. Rollback goes through
  * [[rollbackTo]], which retracts the markers above the target before
  * moving the pointer back.
  *
  * Retention: old versions are kept (the rollback target). Deleting
  * versions older than N−1 is the same retention job any snapshot
  * store runs — deployment cadence, not operator behavior.
  *
  * Parquet artifacts: every parquet dir graft writes for itself (index
  * legs, centroids, codebooks, model weights, shard layouts, ingest
  * `batch=`/`upto=` dirs) goes through [[writeParquet]], which records
  * the analyzed frame's schema as `_graft_schema` in the same dir, and
  * is read back through [[readParquet]] with that record and a
  * driver-side listing — no schema-inference job and no parallel
  * listing job. A dir without a record is refused, not inferred.
  *
  * Layout records: every persisted index records the values its
  * readers must replay (sign planes/dims/seed, phash bands and kernel,
  * bucket count and key, n-gram `n`/`threshold`, IVF nlist/dims/params,
  * model buckets) through [[writeLayout]], inside the generation it
  * describes and before the pointer flip, and every reader takes them
  * from the committed generation's record through [[layout]] — no
  * reader takes a layout value as a parameter, since each has exactly
  * one correct value, the writer's. A layout without its record is
  * refused with its path and "rebuild"; a kernel mismatch refuses.
  */
object IndexVersions {

  val PointerFile = "_graft_index_current"

  private def hadoopConf(spark: SparkSession) =
    spark.sparkContext.hadoopConfiguration

  /** Write `text` (UTF-8) as `dir/file` — the one writer of graft's
    * small text artifacts (layout records, pointers, manifests). With
    * `overwrite = false` the create fails when the file exists: a
    * create-if-absent record. */
  private[graft] def writeText(spark: SparkSession, dir: String,
      file: String, text: String, overwrite: Boolean = true): Unit = {
    val p = new Path(dir, file)
    val out = p.getFileSystem(hadoopConf(spark)).create(p, overwrite)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** The UTF-8 text of `dir/file`, or None when the file is absent. */
  private[graft] def readText(spark: SparkSession, dir: String,
      file: String): Option[String] = {
    val p = new Path(dir, file)
    val fs = p.getFileSystem(hadoopConf(spark))
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** The values a reader of one persisted index must replay — the
    * flat `{"k":v,...}` object (numbers, booleans and quoted strings)
    * its writer left as `file` in `dir`. */
  private[graft] case class LayoutRecord(dir: String, file: String,
      fields: Map[String, String]) {
    def apply(k: String): String = fields.getOrElse(k,
      throw new IllegalArgumentException(
        s"$file at $dir has no `$k` — rebuild the index"))
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
    def double(k: String): Double = apply(k).toDouble
    def boolean(k: String): Boolean = apply(k).toBoolean

    /** Refuse a layout whose signature or scoring kernel is not the one
      * `what` computes: same layout shape, none of the semantics. */
    def requireKernel(kernel: String, what: String): Unit =
      require(apply("kernel") == kernel,
        s"$what at $dir was built with kernel `${apply("kernel")}`; this " +
          s"reader computes `$kernel`")
  }

  /** The text of a layout record: `fields` in order, strings quoted,
    * every other value as its `toString` (the bytes each index kind has
    * always written). */
  private[graft] def renderLayout(fields: (String, Any)*): String =
    fields.map {
      case (k, s: String) =>
        require(!s.exists(c => c == '"' || c == '\\'),
          s"layout value `$s` of `$k` cannot be recorded")
        s""""$k":"$s""""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")

  /** Write the layout record `file` into `dir` ([[renderLayout]]). */
  private[graft] def writeLayout(spark: SparkSession, dir: String,
      file: String, fields: (String, Any)*): Unit =
    writeText(spark, dir, file, renderLayout(fields: _*))

  private val LayoutField = """"(\w+)":("[^"]*"|[^,}]*)""".r

  /** The layout record `file` in `dir`, or None when it has none. */
  private[graft] def layoutIn(spark: SparkSession, dir: String,
      file: String): Option[LayoutRecord] =
    readText(spark, dir, file).map(txt => LayoutRecord(dir, file,
      LayoutField.findAllMatchIn(txt).map(m =>
        m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\"")).toMap))

  /** The layout record `file` in `dir`. A layout without one is refused,
    * naming the dir: every value a reader replays comes from the record
    * its writer left, none from the caller and none guessed. */
  private[graft] def layout(spark: SparkSession, dir: String,
      file: String): LayoutRecord =
    layoutIn(spark, dir, file).getOrElse(throw new IllegalArgumentException(
      s"no layout record ($file) at $dir — the index was not written by " +
        "this version of graft or its write did not finish; rebuild it"))

  /** The most distinct keys (cells, sign buckets, band keys) a probe
    * filters an index scan by. Past it the scan is unpruned: at that
    * occupancy the prune reads most of the index anyway, and the
    * literal list would grow with the query set. */
  private[graft] val MaxProbeKeys = 1024

  /** `index` pruned to the `key` values `probes` carries by a literal
    * IN, which drops partition dirs or bucket files at scan time; past
    * [[MaxProbeKeys]] distinct values, `index` unpruned. The values are
    * listed by one narrow job: each partition emits its distinct keys,
    * capped at the cap + 1, and the driver merges them — no exchange.
    * The probe's own join on `key` selects the same rows either way. */
  private[graft] def pruneToProbed(index: DataFrame, probes: DataFrame,
      key: String): DataFrame = {
    val cap = MaxProbeKeys + 1
    val long = org.apache.spark.sql.Encoders.scalaLong
    val keys = probes.filter(col(key).isNotNull)
      .select(col(key).cast(LongType).as(key)).as(long)
      .mapPartitions(_.distinct.take(cap))(long)
      .collect().distinct
    if (keys.length > MaxProbeKeys) index
    else {
      val t = index.schema(key).dataType
      index.filter(col(key).isin(keys.toSeq.map(lit(_).cast(t)): _*))
    }
  }

  /** The schema record a [[writeParquet]] leaves in the dir it wrote
    * (hidden from Spark's listing by its `_` prefix), written after the
    * data: a dir with a record holds a complete write. */
  val SchemaFile = "_graft_schema"

  /** The schema a graft writer recorded for one parquet dir: the data
    * columns in file order and the partition columns in `partitionBy`
    * order, every level nullable — exactly what a plain parquet read of
    * that dir infers, known without reading it. */
  private[graft] case class Recorded(data: StructType,
      partition: StructType) {
    def render: String = s"${data.json}\n${partition.json}\n"
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** The record a write of a frame with `schema`, partitioned by
    * `partitionBy`, leaves. */
  private[graft] def recordOf(schema: StructType,
      partitionBy: Seq[String]): Recorded = {
    val s = nullable(schema).asInstanceOf[StructType]
    Recorded(StructType(s.fields.filterNot(f => partitionBy.contains(f.name))),
      StructType(partitionBy.map(s(_))))
  }

  /** The record in `dir`, or None when it has none. */
  private[graft] def recordIn(spark: SparkSession, dir: String): Option[Recorded] =
    readText(spark, dir, SchemaFile).map { txt =>
      val Array(data, part) = txt.trim.split("\n")
      Recorded(DataType.fromJson(data).asInstanceOf[StructType],
        DataType.fromJson(part).asInstanceOf[StructType])
    }

  /** The record in `dir`; a dir without one is refused with a message
    * naming it — its schema is not guessed. */
  private[graft] def recordedSchema(spark: SparkSession,
      dir: String): Recorded =
    recordIn(spark, dir).getOrElse(throw new IllegalArgumentException(
      s"no recorded schema ($SchemaFile) at $dir — the artifact was not " +
        "written by this version of graft or its write did not finish; " +
        "rebuild it"))

  /** Refuse, before anything is written, a write of `schema` into a
    * layout whose committed record at `dir` differs. */
  private[graft] def requireRecord(spark: SparkSession, dir: String,
      schema: StructType, partitionBy: Seq[String]): Unit = {
    val want = recordedSchema(spark, dir)
    val got = recordOf(schema, partitionBy)
    require(got == want,
      s"refusing to write ${got.data.toDDL} / ${got.partition.toDDL} " +
        s"beside the layout at $dir, recorded as ${want.data.toDDL} / " +
        want.partition.toDDL)
  }

  /** Write `df` as parquet at `dir` (overwrite; `partitionBy` columns as
    * `k=v` dirs, `dynamic` replacing only the partitions it writes),
    * then record its schema there. The record comes from the analyzed
    * frame: no job. */
  private[graft] def writeParquet(df: DataFrame, dir: String,
      partitionBy: Seq[String] = Nil, dynamic: Boolean = false): Unit = {
    val w = df.write.mode("overwrite").partitionBy(partitionBy: _*)
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .parquet(dir)
    writeText(df.sparkSession, dir, SchemaFile,
      recordOf(df.schema, partitionBy).render)
  }

  /** Spark's listing rule: `_`/`.`-prefixed names are hidden, except
    * `_k=v` partition dirs. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** The visible data files under `dir`, listed on the driver and
    * built the way Spark's own listing builds them: on HDFS (and
    * viewfs) one `listLocatedStatus` per dir, which returns the block
    * locations with the listing; elsewhere `listStatus` plus block
    * locations per file, never reading owner or permissions, which the
    * local filesystem loads by forking a process per file (on a local
    * disk, `FileSystem.listFiles` took about 200 ms for a 36-cell leg).
    * One listing call per dir, serially, in place of Spark's parallel
    * listing job: at 4096 cells and two live segments (about 7,000
    * dirs, local disk, 4 cores) a whole probe took about 2 s, against
    * about 30 s with that job. */
  private def leafFiles(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    val entries: Seq[FileStatus] = fs match {
      case _: DistributedFileSystem | _: ViewFileSystem =>
        val it = fs.listLocatedStatus(dir)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
      case _ =>
        fs.listStatus(dir).toSeq.map { st =>
          if (st.isDirectory) st
          else new LocatedFileStatus(st.getLen, false, st.getReplication,
            st.getBlockSize, st.getModificationTime, 0L, null, null, null,
            null, st.getPath, fs.getFileBlockLocations(st, 0L, st.getLen))
        }
    }
    entries.filterNot(s => hidden(s.getPath.getName)).flatMap { st =>
      if (st.isDirectory) leafFiles(fs, st.getPath) else Seq(st)
    }
  }

  /** Refuse a dir whose files lack a recorded data column (a pinned
    * schema would read that column as nulls): one footer, on the
    * driver. */
  private def checkFooter(spark: SparkSession, dir: String,
      file: FileStatus, rec: Recorded): Unit = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file,
        hadoopConf(spark)))
    val names =
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(_.getName).toSet
      finally reader.close()
    val missing = rec.data.fieldNames.filterNot(names)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"${file.getPath} under $dir lacks the recorded column(s) " +
        s"${missing.mkString(", ")} — the files do not match the " +
        "artifact's schema record; rebuild it")
  }

  /** The partition values of the leaf dir `dir`, parsed from its `k=v`
    * path segments below the first of `roots` above it and typed by the
    * record. */
  private def partitionOf(spark: SparkSession, roots: Set[Path], dir: Path,
      rec: Recorded): PartitionPath = {
    val kv = Iterator.iterate(dir)(_.getParent)
      .takeWhile(p => p != null && !roots(p)).map(_.getName.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    PartitionPath(InternalRow.fromSeq(rec.partition.fields.toSeq.map { f =>
      val raw = kv.getOrElse(f.name, throw new IllegalStateException(
        s"$dir has no `${f.name}=` segment, a recorded partition column; " +
          "rebuild the artifact"))
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else Cast(Literal(ExternalCatalogUtils.unescapePathName(raw)),
        f.dataType, tz).eval()
    }), dir)
  }

  /** Read graft-written parquet dirs (one or more roots of the same
    * layout, e.g. an index leg and its segments) as ONE relation with
    * the schema their writer recorded. The leaf files are listed on the
    * driver through the Hadoop FS API and handed to the file index with
    * the record, so neither a schema-inference job nor a
    * parallel-listing job runs; partition values come from the listed
    * `k=v` dirs, typed by the record. Every dir
    * must carry the same record, and one footer per dir must hold every
    * recorded column. */
  private[graft] def readParquet(spark: SparkSession,
      dirs: Seq[String]): DataFrame = {
    require(dirs.nonEmpty, "readParquet: no dirs")
    val rec = recordedSchema(spark, dirs.head)
    val conf = hadoopConf(spark)
    val listed = dirs.map { d =>
      val r = if (d == dirs.head) rec else recordedSchema(spark, d)
      require(r == rec, s"$d is recorded as ${r.data.toDDL}, but " +
        s"${dirs.head} as ${rec.data.toDDL} — one read needs one schema")
      val p = new Path(d)
      val fs = p.getFileSystem(conf)
      val root = fs.makeQualified(p)
      val files = leafFiles(fs, root)
      files.headOption.foreach(checkFooter(spark, d, _, rec))
      (root, files.toArray)
    }
    // answers the file index's first listing; a refresh (a write to a
    // path a cached plan reads) invalidates it and Spark lists again
    val listing = new FileStatusCache {
      @volatile private var byRoot = listed.toMap
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        byRoot.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = byRoot = Map.empty
    }
    val roots = listed.map(_._1)
    val index = new InMemoryFileIndex(spark, roots, Map.empty,
        Some(StructType(rec.data.fields ++ rec.partition.fields)), listing) {
      // Spark's own inference refuses leaf dirs under different roots
      // (a leg and its segments), so each dir is parsed against its
      // root, from the current listing: a refresh sees new dirs
      override def inferPartitioning(): PartitionSpec =
        PartitionSpec(rec.partition, leafDirToChildrenFiles.keys.toSeq
          .map(partitionOf(spark, roots.toSet, _, rec)))
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(index, rec.partition,
      rec.data, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** Commit `lines` as `file` of the next generation under `rootDir`
    * (version dir beside the previous one, pointer flip LAST, then
    * retention of current + one rollback target) — the bounded text
    * manifests (segment lists, shard tables) are written, read and
    * committed driver-side with no Spark job. */
  private[graft] def commitLines(spark: SparkSession, rootDir: String,
      file: String, lines: Seq[String]): Unit = {
    val v = nextVersion(spark, rootDir)
    writeText(spark, versionDir(rootDir, v), file,
      lines.mkString("", "\n", "\n"))
    commit(spark, rootDir, v)
    dropOldPathVersions(spark, rootDir, keepPrevious = 1): Unit
  }

  /** The non-blank lines of `file` in the committed generation under
    * `rootDir` — None when that generation has no such file. */
  private[graft] def committedLines(spark: SparkSession, rootDir: String,
      file: String): Option[Seq[String]] =
    readText(spark, resolvePath(spark, rootDir), file).map(
      _.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq)

  /** Test seam: called with the name of each commit step a segmented
    * index ([[SegmentedIndex]]) or shard layout ([[Shards]]) mutation
    * completes. A crash spec throws from it to leave the on-disk state
    * of a crash right after that step. */
  @volatile private[graft] var afterStep: String => Unit = _ => ()

  /** The numbers N of the entries named `<prefix>N` directly under
    * `dir` (none when `dir` is absent) — one listing, no data read. */
  private[graft] def numbered(spark: SparkSession, dir: String,
      prefix: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(hadoopConf(spark))
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.length > prefix.length &&
        n.drop(prefix.length).forall(_.isDigit))
      .map(_.drop(prefix.length).toLong)
  }

  /** Delete (recursively) the `<prefix>N` entries under `dir` whose N
    * satisfies `drop`; returns the deleted numbers. */
  private[graft] def deleteNumbered(spark: SparkSession, dir: String,
      prefix: String, drop: Long => Boolean): Seq[Long] = {
    val fs = new Path(dir)
      .getFileSystem(hadoopConf(spark))
    numbered(spark, dir, prefix).filter(drop).map { n =>
      fs.delete(new Path(dir, s"$prefix$n"), true)
      n
    }
  }

  /** Name prefix of the monotonic commit markers (see class doc);
    * `.tmpN` leftovers from a crashed rename are not markers. */
  private val Marker = s"$PointerFile.v"

  /** The committed version at `rootDir`, or None for a legacy flat
    * layout (or nothing at all). Resolves to the max of the pointer
    * file's value and the monotonic commit markers, so a reader inside
    * an object store's non-atomic rename window (pointer briefly
    * absent) still lands on the committed version, never on
    * generation zero. */
  def currentVersion(spark: SparkSession, rootDir: String): Option[Int] = {
    val fromPointer = readText(spark, rootDir, PointerFile).map { txt =>
      val t = txt.trim
      require(t.nonEmpty && t.forall(_.isDigit),
        s"corrupt index pointer at $rootDir/$PointerFile: '$txt'")
      t.toInt
    }
    val fromMarkers = numbered(spark, rootDir, Marker).map(_.toInt).maxOption
    (fromPointer ++ fromMarkers).maxOption
  }

  /** The version a compaction should build next: committed + 1, or 1
    * over a legacy/fresh root (the flat layout is generation 0). */
  def nextVersion(spark: SparkSession, rootDir: String): Int =
    currentVersion(spark, rootDir).getOrElse(0) + 1

  /** Data directory of version `v` under a path-rooted index. */
  def versionDir(rootDir: String, v: Int): String = s"$rootDir/_ixv$v"

  /** Resolve a path-rooted index to its committed data directory. */
  def resolvePath(spark: SparkSession, rootDir: String): String =
    currentVersion(spark, rootDir)
      .map(v => versionDir(rootDir, v)).getOrElse(rootDir)

  /** Table prefix of version `v` of a bucketed-catalog index. */
  def versionPrefix(tablePrefix: String, v: Int): String =
    s"${tablePrefix}_ixv$v"

  /** The pointer root for a bucketed-catalog index: the prefix's
    * would-be managed-table directory (deterministic, warehouse-local,
    * and can never collide with a real table — the index tables are
    * `<prefix>_df` etc., never the bare prefix).
    */
  def tableRoot(spark: SparkSession, tablePrefix: String): String =
    spark.sessionState.catalog.defaultTablePath(
      spark.sessionState.sqlParser.parseTableIdentifier(tablePrefix))
      .toString

  /** Resolve a bucketed-catalog index prefix to its committed table
    * prefix. */
  def resolveTablePrefix(spark: SparkSession, tablePrefix: String): String =
    currentVersion(spark, tableRoot(spark, tablePrefix))
      .map(v => versionPrefix(tablePrefix, v)).getOrElse(tablePrefix)

  /** Commit version `v`: drop the monotonic marker
    * `_graft_index_current.vN` (one create — atomic everywhere, the
    * object-store leg of resolution), then write-temp + atomic rename
    * the pointer (FileContext supports rename-with-overwrite atomically
    * on HDFS; on the local FS it maps to the same java.nio ATOMIC_MOVE
    * the UpsertSink pointer uses). The flip is the LAST step of a
    * compaction — before the marker lands, every reader resolves to the
    * previous version; after it, to `v`, even on stores whose rename
    * window briefly shows no pointer. Markers below `v` are pruned
    * after the flip (their removal can never lower the max).
    */
  def commit(spark: SparkSession, rootDir: String, v: Int): Unit = {
    val root = new Path(rootDir)
    writeText(spark, rootDir, s"$Marker$v", v.toString)
    val tmp = new Path(root, s"$PointerFile.tmp$v")
    writeText(spark, rootDir, tmp.getName, v.toString)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      root.toUri, hadoopConf(spark))
    fc.rename(tmp, new Path(root, PointerFile),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    deleteNumbered(spark, rootDir, Marker, _ < v): Unit
  }

  /** Roll the committed version back to `v` (a previous, still-retained
    * generation; `v` = 0 is the generation-zero flat layout). Retracts
    * every commit marker above `v` FIRST — max-resolution means the
    * pointer alone cannot move the index backwards — then re-commits
    * `v` (or clears the pointer entirely for generation zero). The
    * caller is responsible for `v`'s data still existing (retention
    * keeps current − `keepPrevious` versions).
    */
  def rollbackTo(spark: SparkSession, rootDir: String, v: Int): Unit = {
    require(v >= 0, s"version: $v")
    deleteNumbered(spark, rootDir, Marker, _ > v)
    if (v == 0) clearPointer(spark, rootDir)
    else commit(spark, rootDir, v)
  }

  /** Remove the pointer AND the commit markers — a FRESH flat build at
    * the root resets the index to legacy/generation-zero layout;
    * without this, a rebuilt generation 0 would be shadowed by a stale
    * pointer (or marker) from a previous run's compaction. Call it
    * AFTER the flat build completes: while the build is in flight the
    * stale pointer is what keeps readers on the last committed
    * generation instead of a half-written one. */
  def clearPointer(spark: SparkSession, rootDir: String): Unit = {
    val p = new Path(rootDir, PointerFile)
    val fs = p.getFileSystem(hadoopConf(spark))
    if (fs.exists(p)) fs.delete(p, false): Unit
    deleteNumbered(spark, rootDir, Marker, _ => true): Unit
  }

  /** Retention for a PATH-rooted index: delete every version older than
    * the committed one minus `keepPrevious` (default keeps current +
    * one rollback target). Generation zero (the legacy flat files at
    * the root) counts as version 0 and is removed by the same rule —
    * its data children are the non-hidden entries beside the version
    * dirs, except the names in `keep` (entries every generation shares,
    * such as a segmented index's `segments` dir). Refuses to run when no
    * version is committed (there would be nothing newer than the flat
    * layout). Returns what it deleted.
    */
  def dropOldPathVersions(spark: SparkSession, rootDir: String,
      keepPrevious: Int = 1, keep: Set[String] = Set.empty): Seq[String] = {
    require(keepPrevious >= 0, s"keepPrevious: $keepPrevious")
    val cur = currentVersion(spark, rootDir).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version at $rootDir — nothing is newer than the " +
          "flat layout, refusing to delete it"))
    val floor = cur - keepPrevious
    val root = new Path(rootDir)
    val fs = root.getFileSystem(hadoopConf(spark))
    val deleted = scala.collection.mutable.Buffer.empty[String]
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("_ixv") &&
          name.stripPrefix("_ixv").forall(_.isDigit)) {
        if (name.stripPrefix("_ixv").toInt < floor) {
          fs.delete(st.getPath, true)
          deleted += st.getPath.toString
        }
      } else if (name != PointerFile && !name.startsWith("_") &&
          !name.startsWith(".") && !keep(name) && floor > 0) {
        // generation-zero data (bucket=* dirs / flat part files)
        fs.delete(st.getPath, true)
        deleted += st.getPath.toString
      }
    }
    deleted.toSeq
  }

  /** Retention for a bucketed-catalog index: drop the `_df`/`_prefix`/
    * `_shingles` tables (catalog entry AND warehouse data) of every
    * version older than committed minus `keepPrevious`; the bare-prefix
    * tables are generation 0 under the same rule. Returns the table
    * prefixes it dropped.
    */
  def dropOldTableVersions(spark: SparkSession, tablePrefix: String,
      keepPrevious: Int = 1): Seq[String] = {
    require(keepPrevious >= 0, s"keepPrevious: $keepPrevious")
    val cur = currentVersion(spark, tableRoot(spark, tablePrefix))
      .getOrElse(throw new IllegalArgumentException(
        s"no committed version for $tablePrefix — nothing is newer " +
          "than generation zero, refusing to drop it"))
    val floor = cur - keepPrevious
    val old = (0 until math.max(0, floor)).map {
      case 0 => tablePrefix
      case v => versionPrefix(tablePrefix, v)
    }
    old.foreach { p =>
      Seq("df", "prefix", "shingles").foreach { s =>
        Bucketed.dropBucketed(spark, s"${p}_$s")
      }
    }
    old
  }
}
