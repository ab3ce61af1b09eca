package graft.cli

import graft.config.ConfigLoader
import graft.model._
import graft.run.Migrator
import graft.sinks.{JdbcSink, ParquetSink, Sink}
import graft.sources.{JdbcSource, SourceReader}

/** CLI entry point (SURVEY.md §2.9 O8, §3.1; reference: cli.py).
  *
  * Usage:
  *   graft.cli.Main --source-dir DIR --source-table T --dest-table T
  *     --dest parquet:DIR | orc:DIR | csv:DIR | json:DIR | jdbc:URL
  *       (required unless --dry-run; unknown --options are rejected)
  *     [--source-format parquet|orc|csv|json] [--mode append|overwrite]
  *     [--limit N] [--config FILE] [--dry-run] [--yes]
  *     [--null-on-non-nullable fail|fill|skip] (alias: --null-policy)
  *     [--null-fill-sentinel S] [--string-null-tokens "nan,None,..."]
  *     [--preserve-string-null-tokens BOOL] [--strip-null-tokens]
  *     [--treat-empty-string-as-null BOOL] [--empty-string-as-null]
  *     [--schema-evolution] [--table-comment TEXT]
  *     [--log-level ERROR|WARN|INFO|DEBUG|TRACE] (reference: cli.py:60;
  *       WARNING accepted as an alias for WARN)
  *
  * Precedence: CLI > config file > env (reference: config_loader.py:171-248).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cli = parseArgs(args)
    val fileCfg = cli.get("config").map(ConfigLoader.loadFlat(_)).getOrElse(Map.empty)
    val cfg = ConfigLoader.merge(cli, fileCfg, sys.env.map {
      case (k, v) => k.toLowerCase -> v })

    def req(k: String): String = cfg.getOrElse(k,
      sys.error(s"missing required option --${k.replace('_', '-')}"))
    // boolean knobs: an explicit "false"/"0" from a config file means
    // FALSE — presence of the key alone is not truth
    def flag(k: String): Boolean =
      cfg.get(k).exists(v => Set("true", "1", "yes").contains(v.toLowerCase))

    // master and shuffle width are deployment settings, so they come
    // from the config rather than the local core count
    val spark = graft.LocalSpark.session("graft-migrate",
      master = cfg.getOrElse("master", "local[*]"),
      shufflePartitions = cfg.getOrElse("shuffle_partitions", "32").toInt,
      logLevel = cfg.getOrElse("log_level", "WARN").toUpperCase match {
        case "WARNING" => "WARN" // reference cli.py:62 spells it WARNING
        case lvl       => lvl
      })

    try {
      val sourceTable = req("source_table")
      val mapping = cli.get("config")
        .map(ConfigLoader.selectTableMapping(_, sourceTable))
        .getOrElse(MappingPlan())
      val compat0 = ConfigLoader.compatFrom(cfg)
      val compat = compat0.copy(
        preserveStringNullTokens =
          compat0.preserveStringNullTokens && !flag("strip_null_tokens"),
        treatEmptyStringAsNull =
          compat0.treatEmptyStringAsNull || flag("empty_string_as_null"))
      val spec = MigrationSpec(
        sourceTable = sourceTable,
        destTable = req("dest_table"),
        mode = WriteMode.parse(cfg.getOrElse("mode", "append")),
        limit = cfg.get("limit").map(_.toLong),
        mapping = mapping,
        compat = compat,
        dryRun = flag("dry_run"),
        writePartitions = cfg.get("write_partitions").map(_.toInt),
        schemaEvolution = flag("schema_evolution"),
        tableComment = cfg.get("table_comment").filter(_.nonEmpty))

      // overwrite confirmation (reference: cli.py:257-260)
      if (spec.mode == WriteMode.Overwrite && !spec.dryRun && !flag("yes")) {
        print(s"Overwrite ${spec.destTable}? [y/N] ")
        val ans = Option(scala.io.StdIn.readLine()).getOrElse("")
        if (!Set("y", "yes").contains(ans.trim.toLowerCase)) {
          println("aborted"); return
        }
      }

      // --source-dir DIR (files; --source-format picks the reader) or
      // --source jdbc:URL (relational)
      val source: graft.sources.Source = cfg.get("source") match {
        case Some(s) if s.startsWith("jdbc:") => new JdbcSource(spark, s)
        case _ => new SourceReader(spark, req("source_dir"),
          cfg.getOrElse("source_format", "parquet"))
      }
      // --dest is REQUIRED for a real run (a dry-run never writes):
      // defaulting the destination would silently land data in a
      // location the user never named.
      val FileDest = "^(parquet|orc|csv|json):(.+)$".r
      val sink: Sink = cfg.get("dest")
        .orElse(if (spec.dryRun) Some("parquet:/tmp/graft-dry-run") else None)
        .getOrElse(req("dest")) match {
        case d if d.startsWith("jdbc:") => new JdbcSink(d)
        case FileDest(fmt, dir)         => new graft.sinks.FileSink(spark, dir, fmt)
        case other => sys.error(s"unknown destination: $other")
      }
      val report = new Migrator(source, sink).migrate(spec)
      if (report.dryRun) {
        println(s"[dry-run] source=${report.sourceTable} dest=${report.destTable} mode=${report.mode.name}")
        println(s"[dry-run] source columns (${report.sourceColumns.size}):")
        report.sourceColumns.foreach(c =>
          println(s"  ${c.name} ${c.typeName}${if (c.isPartition) " [partition]" else ""}"))
        println(s"[dry-run] destination DDL (${report.destColumns.size}):")
        report.destColumns.foreach(c =>
          println(s"  ${c.name} ${c.typeName}${if (c.nullable) "" else " NOT NULL"}"))
      } else {
        println(s"migrated ${report.rowsWritten} rows: " +
          s"${report.sourceTable} -> ${report.destTable} (${report.mode.name}" +
          s"${if (report.createdTable) ", created" else ""})")
      }
    } finally spark.stop()
  }

  /** `--key value` / `--flag` → map with snake_case keys. */
  /** Every option the CLI understands. Unknown `--flags` FAIL instead
    * of being silently dropped — a typo'd `--dest-dir` must not send
    * the data to the default destination. (The config file and env
    * layers stay permissive: env vars legitimately carry unrelated
    * keys; only the explicit command line is validated.)
    */
  private[cli] val KnownOptions: Set[String] = Set(
    "config", "source", "source_dir", "source_format", "source_table",
    "dest", "dest_table", "mode", "limit", "write_partitions",
    "dry_run", "yes", "master", "shuffle_partitions", "log_level",
    "null_policy", "null_on_non_nullable", "null_fill_sentinel",
    "string_null_tokens", "preserve_string_null_tokens",
    "treat_empty_string_as_null", "strip_null_tokens",
    "empty_string_as_null", "schema_evolution", "table_comment")

  /** CLI spellings normalized to the config-layer key compatFrom reads
    * (reference cli.py:72 names the policy --null-on-non-nullable; the
    * shorter --null-policy stays as an alias).
    */
  private[cli] val Aliases: Map[String, String] =
    Map("null_policy" -> "null_on_non_nullable")

  private[cli] def parseArgs(args: Array[String]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val k0 = a.stripPrefix("--").replace('-', '_')
        if (!KnownOptions.contains(k0))
          sys.error(s"unknown option --${a.stripPrefix("--")} " +
            s"(known: ${KnownOptions.toSeq.sorted.map("--" + _.replace('_', '-')).mkString(", ")})")
        val k = Aliases.getOrElse(k0, k0)
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          out += k -> args(i + 1); i += 2
        } else { out += k -> "true"; i += 1 }
      } else i += 1
    }
    out.result()
  }
}
