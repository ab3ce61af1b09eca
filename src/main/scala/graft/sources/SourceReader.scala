package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex

import graft.model.SourceColumn

/** File-backed [[Source]] (SURVEY.md §2.1 S1-S7).
  *
  * The reference hand-builds SQL against MaxCompute: `SELECT * FROM t`
  * plus a partition-pruning predicate (prefer latest partition, else
  * LIMIT-guard a full scan) (reference: maxcompute_client.py:105-217).
  * Spark-first, the same contract is: read the table, attach an equality
  * filter on the partition columns — Catalyst's PruneFileSourcePartitions
  * turns that into directory pruning on Hive-layout data, so at 100 TB the
  * scan touches one partition's files only. Column pruning comes free once
  * downstream does `.select` (a strict improvement over the reference's
  * `SELECT *`, SURVEY.md §4).
  */
class SourceReader(spark: SparkSession, baseDir: String,
    format: String = "parquet",
    options: Map[String, String] = Map.empty) extends Source {

  private def readOptions: Map[String, String] = format match {
    // csv carries no schema — take the header for names and infer types
    // (one extra pass at plan time; a production path would pin a schema)
    case "csv" => Map("header" -> "true", "inferSchema" -> "true") ++ options
    case _     => options
  }

  /** S1: scan. Tables resolve to `baseDir/<name>.<format>` (testdata
    * layout) or `baseDir/<name>` (hive-partitioned / sink-written
    * directory).
    */
  override def table(name: String): DataFrame = {
    // parquet TIMESTAMP(NANOS) columns: read as raw nanos (a session
    // conf every graft.LocalSpark session sets), truncated to micros
    // (Spark's timestamp precision) by normalize
    if (format.equalsIgnoreCase("parquet"))
      graft.Tables.requireNanosAsLong(spark, "SourceReader")
    graft.Tables.normalize(
      spark.read.options(readOptions).format(format).load(path(name)))
  }

  private def path(name: String): String = {
    val flat = s"$baseDir/$name.$format"
    if (exists(flat)) flat else s"$baseDir/$name"
  }

  private def exists(p: String): Boolean =
    new java.io.File(p).exists() ||
      FileSystem.get(spark.sparkContext.hadoopConfiguration).exists(new Path(p))

  /** S5: catalog schema fetch — StructType + hive partition columns. */
  override def schemaOf(name: String): Seq[SourceColumn] = {
    val df = table(name)
    val partCols = partitionColumns(name)
    df.schema.fields.map { f =>
      // catalogString keeps nested element types ("array<string>",
      // "decimal(10,2)") where typeName degrades to just "array"
      SourceColumn(f.name, f.dataType.catalogString.toLowerCase,
        comment = if (f.metadata.contains("comment"))
          Some(f.metadata.getString("comment")) else None,
        isPartition = partCols.contains(f.name.toLowerCase))
    }.toIndexedSeq
  }

  /** Hive-style partition columns (`k=v` directories, at every level)
    * from the partition schema of the same file index [[table]]'s scan
    * holds. Built from the listing alone: no footer is read, so no Spark
    * job runs.
    */
  override def partitionColumns(name: String): Set[String] = {
    val p = path(name)
    if (!exists(p)) Set.empty
    else new InMemoryFileIndex(spark, Seq(new Path(p)), readOptions, None)
      .partitionSchema.fieldNames.map(_.toLowerCase).toSet
  }

  /** S7: connection test — can we list the base dir. */
  override def testConnection(): Boolean =
    try { new java.io.File(baseDir).exists() }
    catch { case _: Exception => false }
}
