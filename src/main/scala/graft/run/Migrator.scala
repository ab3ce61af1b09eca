package graft.run

import org.apache.spark.sql.DataFrame

import graft.model._
import graft.schema.SchemaMapper
import graft.sinks.Sink
import graft.sources.Source
import graft.transform.{CastPipeline, ConstraintEnforcer, MappingTransform}

/** Migration run report (counts + staged facts, feeding dry-run output
  * and logs; reference: migrator.py:122-167, cli.py:332-412).
  */
final case class MigrationReport(
    sourceTable: String,
    destTable: String,
    mode: WriteMode,
    sourceColumns: Seq[SourceColumn],
    destColumns: Seq[DestColumn],
    createdTable: Boolean,
    rowsWritten: Long,
    dryRun: Boolean)

/** The orchestrator (SURVEY.md §2.9 O1-O6, §3.1).
  *
  * The reference's serial read→transform→write batch loop collapses into
  * ONE Spark job: a narrow (shuffle-free) chain of projections from scan
  * to sink. The only extra actions are the source's schema inference,
  * the latest-partition probe (the partition is chosen from the file
  * index; one pruned `limit(1)` confirms it holds a row) and
  * (policy=fail) the null-count pass. At 100 TB this plan moves each
  * row exactly once, through whole-stage-codegen'd projections, with
  * scan pruning handled by Catalyst.
  */
class Migrator(source: Source, sink: Sink,
    progressOut: String => Unit = m => Console.err.println(m)) {

  def migrate(spec: MigrationSpec): MigrationReport = {
    // 1. connections (reference: migrator.py:169-179)
    if (!source.testConnection())
      throw new DataMigrationError("source connection test failed")
    if (!sink.testConnection())
      throw new DataMigrationError("destination connection test failed")

    // 2. source schema + plan-time mapping validation (D5 — fail before
    //    any data is read)
    val srcCols = source.schemaOf(spec.sourceTable)
    MappingTransform.validate(spec.mapping, srcCols.map(_.name))

    // 3. destination schema handling (reference: migrator.py:181-275).
    //    A qualified ns.table destination gets its namespace created
    //    first (reference: bigquery_client.py:45-65).
    spec.destTable.split('.') match {
      case Array(ns, _) if !spec.dryRun => sink.ensureNamespace(ns)
      case _                            => ()
    }
    val exists = sink.tableExists(spec.destTable)
    // WRITE_EMPTY semantics: refuse an existing destination BEFORE any
    // data moves (reference write_disposition, bigquery_client.py:152-176)
    if (exists && spec.mode == WriteMode.ErrorIfExists)
      throw new DataMigrationError(
        s"destination table ${spec.destTable} already exists (mode=error_if_exists)")
    val created = !exists && !spec.dryRun
    val translatedDdl = translateDdl(srcCols, spec)
    if (!spec.dryRun) {
      if (!exists)
        sink.createTable(spec.destTable, translatedDdl, spec.tableComment)
      else if (spec.mode == WriteMode.Overwrite) {
        sink.truncateOrDrop(spec.destTable)
        // A new description supplied on Overwrite must not be silently
        // dropped: update it where the backend can, warn where it
        // can't (Derby has no table COMMENT). No comment supplied →
        // the existing description survives the data overwrite,
        // matching TRUNCATE/WRITE_TRUNCATE semantics.
        // best-effort BY DESIGN: the destination was just truncated, and
        // a thrown ALTER failure here (missing ALTER privilege, metadata
        // lock) would abort the run BETWEEN truncate and load, leaving
        // the table empty — a cosmetic update must never do that
        spec.tableComment.filter(_.nonEmpty).foreach { cmt =>
          val applied =
            try sink.setTableComment(spec.destTable, cmt)
            catch { case e: Exception =>
              System.err.println(s"[migrate] WARNING: updating the " +
                s"table comment on ${spec.destTable} failed " +
                s"(${e.getMessage}); continuing with the data load")
              true // failure already reported; skip the can't-alter warning
            }
          if (!applied)
            System.err.println(s"[migrate] WARNING: destination " +
              s"${spec.destTable} exists and the backend cannot alter " +
              "table comments; the supplied table_comment was NOT applied")
        }
      }
    }
    // Schema drift (evolution opt-in): compare what the source NOW
    // translates to against the live destination catalog. Added columns
    // are ALTERed in (nullable, no default — history reads NULL) BEFORE
    // the load so the aligned projection can carry them; a base-type
    // change fails fast (loading across a type change silently corrupts
    // or nulls data); columns the source dropped stay at the
    // destination and fill via the D2/D3 default/null policy.
    val destCols0 = sink.destSchema(spec.destTable).getOrElse(translatedDdl)
    val destCols =
      if (exists && spec.schemaEvolution && !spec.dryRun) {
        val drift = graft.schema.SchemaMapper.diff(translatedDdl, destCols0)
        if (drift.typeChanged.nonEmpty)
          throw new DataMigrationError("schema drift: type changed for " +
            drift.typeChanged.map { case (t, d) =>
              s"${t.name} (${d.typeName} -> ${t.typeName})" }.mkString(", "))
        if (drift.added.nonEmpty) {
          val widened = drift.added.map(_.copy(nullable = true, default = None))
          sink.addColumns(spec.destTable, widened)
          destCols0 ++ widened
        } else destCols0
      } else destCols0

    if (spec.dryRun)
      return MigrationReport(spec.sourceTable, spec.destTable, spec.mode,
        srcCols, destCols, createdTable = false, rowsWritten = 0L, dryRun = true)

    // 4. the one distributed job: scan → cast → map → align → defaults →
    //    policy → write (reference: migrator.py:288-337, per-batch).
    //    The reported row count (O3) is captured with Dataset.observe
    //    DURING the write — a pre-write count() would re-execute the whole
    //    scan→transform chain and could disagree with what lands if the
    //    source changes between the two actions.
    val transformed = withComments(
      transform(source.buildScan(spec), srcCols, destCols, spec), destCols)
    val out = spec.writePartitions.fold(transformed)(transformed.repartition)
    val obs = org.apache.spark.sql.Observation("rows_written")
    val observed = out.observe(obs,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    // truncate/drop already handled above; the write itself always appends.
    // Task-level progress for the move (the reference's tqdm over data
    // batches, migrator.py:297): job-group-scoped listener, registered
    // only for the duration of this one action.
    val sc = observed.sparkSession.sparkContext
    val group = s"graft.migrate.${spec.sourceTable}->${spec.destTable}"
    val listener = new ProgressListener(group, progressOut)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val rows =
      try {
        sink.write(observed, spec.destTable, WriteMode.Append)
        obs.get("n").asInstanceOf[Long]
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
    MigrationReport(spec.sourceTable, spec.destTable, spec.mode,
      srcCols, destCols, created, rows, dryRun = false)
  }

  /** The pure transformation chain — exposed for tests and for query
    * registration (no actions except inside enforceNullPolicy for
    * fail/fill).
    */
  def transform(df: DataFrame, srcCols: Seq[SourceColumn],
      destCols: Seq[DestColumn], spec: MigrationSpec): DataFrame = {
    val casted = CastPipeline(df, srcCols, spec.compat)
    val mapped = MappingTransform(casted, spec.mapping)
    // partition columns are never created at the destination
    // (reference: schema_mapper.py:55-57)
    val noPart = srcCols.filter(_.isPartition).map(_.name)
      .foldLeft(mapped)((d, c) => d.drop(c))
    val aligned = ConstraintEnforcer.projectToDestination(noPart, destCols)
    val defaulted = ConstraintEnforcer.applyDbDefaults(aligned, destCols)
    ConstraintEnforcer.enforceNullPolicy(defaulted, destCols,
      spec.compat.nullOnNonNullable, spec.compat.nullFillSentinel)
  }

  /** Attach destination column comments as StructField metadata so file
    * sinks persist them in the footer (the reference carried
    * comment→description into BigQuery, bigquery_client.py:88-112; JDBC
    * sinks carry the same comments via the DDL COMMENT clause instead).
    * Pure projection — no-op when no column has a comment.
    */
  private def withComments(df: DataFrame, destCols: Seq[DestColumn]): DataFrame = {
    val comments = destCols.flatMap(c => c.comment.map(c.name.toLowerCase -> _)).toMap
    if (comments.isEmpty) df
    else df.select(df.schema.fields.toIndexedSeq.map { f =>
      comments.get(f.name.toLowerCase) match {
        case Some(cmt) =>
          val meta = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putString("comment", cmt).build()
          df(f.name).as(f.name, meta)
        case None => df(f.name)
      }
    }: _*)
  }

  /** Schema translation honoring mapping (include/exclude/rename/computed
    * columns appear in DDL too; reference: migrator.py:681-749).
    */
  def translateDdl(srcCols: Seq[SourceColumn], spec: MigrationSpec): Seq[DestColumn] = {
    val m = spec.mapping
    val kept = SchemaMapper.dedupe(srcCols.filterNot(_.isPartition))
      .filter { c =>
        m.include.forall(_.exists(_.equalsIgnoreCase(c.name))) &&
          !m.exclude.exists(_.equalsIgnoreCase(c.name))
      }
    val renamed = kept.map { c =>
      m.rename.find(_._1.equalsIgnoreCase(c.name)) match {
        case Some((_, nw)) => c.copy(name = nw)
        case None          => c
      }
    }
    val withComputed = renamed ++ m.computed.map { cc =>
      val t = cc.func.toLowerCase match {
        case "now"  => "timestamp"
        case _      => "string"
      }
      SourceColumn(cc.name, t)
    }
    val ordered =
      if (m.order.isEmpty) withComputed
      else {
        val listed = m.order.flatMap(o => withComputed.find(_.name.equalsIgnoreCase(o)))
        listed ++ withComputed.filterNot(listed.contains)
      }
    // type_override literals win verbatim; otherwise the SINK's dialect
    // decides the DDL type (MySQL map for JDBC, BQ-style for files)
    val ov = m.typeOverrides.map { case (k, v) => k.toLowerCase -> v }
    SchemaMapper.dedupe(ordered).map { c =>
      val t = ov.getOrElse(c.name.toLowerCase,
        sink.ddlType(SchemaMapper.toSparkType(c.typeName)))
      // source comment rides into sink DDL (reference:
      // schema_mapper.py:30-37 comment→description)
      DestColumn(c.name, t, comment = c.comment.filter(_.nonEmpty))
    }
  }
}
