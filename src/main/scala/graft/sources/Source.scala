package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{DataMigrationError, MigrationSpec, SourceColumn}

/** Source abstraction (SURVEY.md §2.1 S1-S7): catalog-backed tables with
  * partition-aware scan building. [[SourceReader]] is the file-backed
  * implementation; [[JdbcSource]] the relational one (the reference's
  * actual source is a remote warehouse reached by SQL).
  */
trait Source {
  /** S1: full-table scan. */
  def table(name: String): DataFrame

  /** S5: catalog schema: name/type/comment/isPartition. */
  def schemaOf(name: String): Seq[SourceColumn]

  /** Partition columns, if the layout has them. */
  def partitionColumns(name: String): Set[String]

  /** S7: connection probe. */
  def testConnection(): Boolean

  /** S6: table-access probe (`LIMIT 1`). */
  def validateAccess(name: String): Boolean =
    try { table(name).limit(1).collect(); true }
    catch { case _: Exception => false }

  /** S3/S4: latest non-null value per partition column, as strings
    * (reference: maxcompute_client.py:219-301, `MAX(k) ... WHERE k IS NOT
    * NULL` per key). Resolved from the file index of the partitioned
    * relation `df` scans, not from its rows: the listed partition values
    * go through the same `cast(string)` the scan filter uses, so the
    * string maximum picks `pt=9` over `pt=10` exactly as the reference's
    * `MAX` did. Listed partitions can hold no rows (a directory whose
    * only file is a zero-row parquet), so the chosen partition is
    * confirmed by one pruned `limit(1)` probe, stepping to the
    * next-latest value when it is empty. Returns an empty map when no
    * partition holds a row.
    *
    * With several columns the per-column maxima can name a combination
    * no partition holds (`pt=2/region=a` and `pt=1/region=z` give
    * `{pt: 2, region: z}`); that throws instead of migrating nothing.
    * Declared partition columns over a scan with no partitioned file
    * relation throw too.
    */
  def latestPartitions(df: DataFrame, partCols: Seq[String]): Map[String, String] = {
    if (partCols.isEmpty) return Map.empty
    val rel = fileRelation(df).filter(_.partitionSchema.nonEmpty)
      .getOrElse(throw new DataMigrationError(s"partition columns " +
        s"${partCols.mkString(", ")} are declared, but the scan reads no " +
        "partitioned file relation"))
    val schema = rel.partitionSchema
    val idx = partCols.map { c =>
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      if (i < 0) throw new DataMigrationError(s"partition column $c is not " +
        s"among the scanned partitions (${schema.fieldNames.mkString(", ")})")
      i
    }
    val tz = Some(df.sparkSession.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
    def asString(row: InternalRow, i: Int): Option[UTF8String] =
      if (row.isNullAt(i)) None
      else {
        val dt = schema(i).dataType
        Some(Cast(Literal(row.get(i, dt), dt), StringType, tz).eval()
          .asInstanceOf[UTF8String])
      }
    // partitions holding a file, every column non-null (S4's IS NOT NULL)
    var left: Set[Seq[UTF8String]] = rel.location.listFiles(Nil, Nil)
      .iterator.filter(_.files.nonEmpty)
      .map(p => idx.map(asString(p.values, _)))
      .collect { case vs if vs.forall(_.isDefined) => vs.flatten }.toSet
    def named(vs: Seq[UTF8String]) = partCols.zip(vs.map(_.toString)).toMap
    def holdsRow(vs: Seq[UTF8String]) = !pinned(df, named(vs)).isEmpty
    while (left.nonEmpty) {
      val top = idx.indices.map(k => left.iterator.map(_(k)).max)
      if (left.contains(top)) {
        if (holdsRow(top)) return named(top)
        left -= top
      } else {
        // The maxima come from different partitions. Empty ones among
        // them do not count; if all hold rows, no partition is `top`.
        val empty = left.filter(vs => idx.indices.exists(k => vs(k) == top(k)))
          .filterNot(holdsRow)
        if (empty.isEmpty) throw new DataMigrationError(
          "latest partition values " +
            named(top).map { case (c, v) => s"$c=$v" }.mkString(", ") +
            " (the maximum of each column) name no partition that holds rows")
        left --= empty
      }
    }
    Map.empty
  }

  /** S2: pruned scan — latest-partition equality predicates when
    * partitioned, else the LIMIT full-scan guard
    * (reference: maxcompute_client.py:165-217). Catalyst turns the
    * predicates into directory pruning, so only the latest partition's
    * files are read.
    */
  def buildScan(spec: MigrationSpec): DataFrame = {
    val df = table(spec.sourceTable)
    val latest = latestPartitions(df,
      partitionColumns(spec.sourceTable).toSeq.sorted)
    val base = if (latest.nonEmpty) pinned(df, latest) else guard(df, spec)
    spec.limit.fold(base)(n => base.limit(n.toInt).toDF())
  }

  /** The one file relation `df` scans, if it scans exactly one. */
  private def fileRelation(df: DataFrame): Option[HadoopFsRelation] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    } match {
      case Seq(r) => Some(r)
      case _      => None
    }

  private def pinned(df: DataFrame, values: Map[String, String]): DataFrame =
    values.foldLeft(df) { case (d, (c, v)) => d.filter(col(c).cast("string") === v) }

  private def guard(df: DataFrame, spec: MigrationSpec): DataFrame =
    spec.fullScanGuardLimit match {
      case Some(n) if spec.limit.isEmpty => df.limit(n.toInt).toDF()
      case _                             => df
    }
}
