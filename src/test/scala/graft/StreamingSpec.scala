package graft

import org.apache.spark.sql.functions.{expr, lit, max, pmod, raise_error, timestamp_micros, unix_micros}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{EventStreams, UpsertSink}

/** Structured Streaming: the same logical plans produce identical results
  * on the streaming path (file source → memory sink) as on batch.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val batchEvents = Tables(spark, sf001, "events")

  /** File streaming source requires a DIRECTORY; stage the single-file
    * events parquet into one.
    */
  private lazy val eventsDir: String = {
    val d = tmpDir("stream-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    d
  }

  test("streaming hourly windowed agg == batch result (complete mode)") {
    val stream = EventStreams.readStreamEvents(spark, eventsDir)
    assert(stream.isStreaming)
    val q = EventStreams.hourlyAgg(stream).writeStream
      .outputMode("complete")
      .format("memory").queryName("hourly_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hourly_out")
      .select("hour_start", "event_type", "n", "sum_value")
      .collect().map(_.toSeq).toSet
    val batch = EventStreams.hourlyAgg(batchEvents)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming sliding-window agg == batch; 4 windows per event") {
    val stream = EventStreams.readStreamEvents(spark, eventsDir)
    val q = EventStreams.slidingAgg(stream).writeStream
      .outputMode("complete")
      .format("memory").queryName("sliding_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sliding_out")
      .select("win_start", "event_type", "n", "sum_value")
      .collect().map(_.toSeq).toSet
    val batch = EventStreams.slidingAgg(batchEvents)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
    // total membership = 4 × event count (size/slide overlap factor)
    val total = EventStreams.slidingAgg(batchEvents)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(total == 4L * batchEvents.count())
  }

  test("stateful sessionization (flatMapGroupsWithState) == batch gaps-and-islands") {
    val stream = EventStreams.readStreamEvents(spark, eventsDir)
    val evStream = stream.as[EventStreams.Event]
    val q = EventStreams.sessionizeStateful(evStream, gapSeconds = 1800L)
      .writeStream
      .outputMode("update")
      .format("memory").queryName("sessions_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    // last update per user wins
    val streamed = spark.table("sessions_out")
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups((_, it) => it.toSeq.last)
      .collect().toSet
    val batch = EventStreams.sessionizeBatch(batchEvents, 1800L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming dedup == batch dropDuplicates on the same files") {
    val stream = EventStreams.readStreamEvents(spark, eventsDir)
    val q = EventStreams.dedupStream(stream).writeStream
      .outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dedup_out").count()
    val batch = EventStreams.dedupStream(batchEvents).count()
    assert(streamed == batch && batch > 0)
    assert(batch <= batchEvents.count())
  }

  test("streaming dedup drops a re-delivered payload with a DIFFERENT ts") {
    import org.apache.spark.sql.functions._
    val d = tmpDir("stream-dup")
    // same (user_id, event_type, props) payload at two timestamps within
    // the watermark — the fingerprint contract says the second is a dup
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "click", 1.0, "{\"a\":1}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 7L, "click", 2.0, "{\"a\":1}"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:06:00"), 8L, "view", 3.0, "{\"b\":2}"))
    spark.createDataFrame(rows)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(d)
    val schema = spark.read.parquet(d).schema
    val stream = spark.readStream.schema(schema).parquet(d)
    val q = EventStreams.dedupStream(stream, watermark = "1 hour").writeStream
      .outputMode("append")
      .format("memory").queryName("dup_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dup_out").select("event_id")
      .collect().map(_.getLong(0)).toSet
    // event 2 (same payload, different ts) dropped; 1 and 3 kept
    assert(got == Set(1L, 3L))
  }

  test("watermark bounds state: append-mode windowed agg emits rows") {
    val stream = EventStreams.readStreamEvents(spark, eventsDir)
    val q = EventStreams.hourlyAgg(stream).writeStream
      .outputMode("append")
      .format("memory").queryName("hourly_append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    // with watermark = 2h, all windows older than max(ts)-2h are final
    assert(spark.table("hourly_append").count() > 0)
  }

  test("stream-stream LEFT OUTER join == batch after watermark flush; organic rows present") {
    // outer-join null rows are only emitted when a LATER batch advances
    // the watermark past purchase_ts + window — stage the real events
    // plus two far-future flush files (sentinel users < 0), processed as
    // separate micro-batches, so every real unmatched purchase flushes.
    val d = tmpDir("stream-events-left")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    val maxUs = batchEvents.select(max(unix_micros($"ts"))).head().getLong(0)
    // the flush file's ts must carry the SAME physical type as the copied
    // generator file (raw Long nanos / NTZ micros / instant micros have
    // all appeared across testdata regenerations) — a FileStreamSource
    // reads every file with one schema and faults on mismatch
    val srcTsType = Tables.read(spark, s"$d/events.parquet").schema("ts").dataType
    def writeFlush(name: String, uid: Long, ns: Long): Unit = {
      val tmp = tmpDir(s"flush-$name")
      Seq((9000000L - uid, ns, uid, "click", 0.0, "{}"),
        (9100000L - uid, ns, uid - 1, "purchase", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", srcTsType match {
          case org.apache.spark.sql.types.LongType => $"ts"
          case t => timestamp_micros(expr("ts div 1000")).cast(t)
        })
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$d/$name.parquet"))
    }
    val day = 86400L * 1000000L
    writeFlush("z_flush1", -1L, (maxUs + 10 * day) * 1000L)
    writeFlush("z_flush2", -3L, (maxUs + 20 * day) * 1000L)

    val schema = Tables.read(spark, s"$d/events.parquet").schema
    val stream = Tables.normalize(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(d))
    val joined = EventStreams.attributePurchasesLeft(stream)
    assert(joined.isStreaming)
    val q = joined.writeStream
      .outputMode("append")
      .format("memory").queryName("attr_left_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attr_left_out")
      .filter($"user_id" >= 0)
      .collect().map(_.toSeq).toSet
    val batch = EventStreams.attributePurchasesLeft(batchEvents)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
    // the left-outer point: organic purchases survive with NULL click
    assert(batch.exists(_(2) == null))
  }

  test("stream-stream self-join (click→purchase attribution) == batch range join") {
    val stream = EventStreams.readStreamEvents(spark, eventsDir)
    val joined = EventStreams.attributePurchases(stream)
    assert(joined.isStreaming)
    val q = joined.writeStream
      .outputMode("append")
      .format("memory").queryName("attr_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attr_out")
      .collect().map(_.toSeq).toSet
    val batch = EventStreams.attributePurchases(batchEvents)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  /** Write `df` as the single parquet file `<dir>/b<k>.parquet`, dated
    * `ageMin` minutes ago: the file source picks files up oldest first,
    * so ages fix the micro-batch order. */
  private def writeArrivalFile(df: org.apache.spark.sql.DataFrame,
      dir: String, k: Int, ageMin: Int): Unit = {
    val tmp = s"$dir/tmp$k"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(f"$dir/b$k%02d.parquet")
    assert(part.renameTo(dst))
    assert(dst.setLastModified(System.currentTimeMillis() - ageMin * 60000L))
    new java.io.File(tmp).listFiles().foreach(_.delete())
    new java.io.File(tmp).delete(): Unit
  }

  /** The events split into `n` equal time ranges, one file each,
    * delivered one range per micro-batch (`maxFilesPerTrigger` 1) in
    * event-time order, the shape a log shipper delivers. */
  private def chronologicalEventFiles(n: Int): String = {
    import org.apache.spark.sql.functions.{floor, least, min}
    val dir = tmpDir("stream-chrono")
    val us = unix_micros($"ts")
    val b = batchEvents.agg(min(us), max(us)).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val bucket = least(lit(n - 1),
      floor((us - lo).cast("double") / ((hi - lo).toDouble / n)).cast("int"))
    (0 until n).foreach { k =>
      writeArrivalFile(batchEvents.filter(bucket === k), dir, k, n - k)
    }
    dir
  }

  test("micro-batched chronological delivery: stateful sessionization " +
      "and payload dedup (retain-all watermark), click→purchase join " +
      "and append-mode windowed aggs (2 h watermark) == batch") {
    import org.apache.spark.sql.functions.col
    val dir = chronologicalEventFiles(5)
    def stream() = {
      val schema = spark.read.parquet(dir).schema
      Tables.normalize(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir))
    }
    def runAppend(df: org.apache.spark.sql.DataFrame, name: String)
        : org.apache.spark.sql.DataFrame = {
      val q = df.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable()
      q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) === 5,
        s"$name: one micro-batch per file")
      spark.table(name)
    }

    // sessionization: the latest update per user (batches apply in
    // order on the driver) is the batch gaps-and-islands result
    val latest = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val sq = EventStreams.sessionizeStateful(
        stream().as[EventStreams.Event], gapSeconds = 1800L,
        watermark = "3650 days")
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStreams.UserSessions],
          _: Long) =>
        b.collect().foreach(s => latest(s.user_id) = (s.n_events, s.n_sessions))
      }
      .trigger(Trigger.AvailableNow()).start()
    sq.processAllAvailable()
    sq.stop()
    val sessions = EventStreams.sessionizeBatch(batchEvents, 1800L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(latest.toMap === sessions && sessions.nonEmpty)

    // payload dedup: the emitted fingerprints are exactly the batch's,
    // each emitted once
    val fps = runAppend(EventStreams.dedupStream(stream(),
      watermark = "3650 days"), "chrono_dedup").select($"fp")
    val batchFps = EventStreams.dedupStream(batchEvents).select($"fp")
    assert(fps.count() === batchFps.count())
    assert(fps.exceptAll(batchFps).isEmpty && batchFps.exceptAll(fps).isEmpty)

    // click→purchase join at the production watermark: in-order
    // delivery means no event is late, so nothing is lost to eviction
    val joined = runAppend(EventStreams.attributePurchases(stream()),
      "chrono_join").collect().map(_.toSeq).toSet
    val batchJoined = EventStreams.attributePurchases(batchEvents)
      .collect().map(_.toSeq).toSet
    assert(joined === batchJoined && batchJoined.nonEmpty)

    // windowed aggs: append mode emits each window once, when the
    // watermark passes its end, so the emitted rows equal the batch
    // aggregate over every window up to the last one emitted
    Seq(("chrono_hourly", "hour_start",
        (e: org.apache.spark.sql.DataFrame) => EventStreams.hourlyAgg(e)),
      ("chrono_sliding", "win_start",
        (e: org.apache.spark.sql.DataFrame) => EventStreams.slidingAgg(e)))
      .foreach { case (name, start, agg) =>
        val emitted = runAppend(agg(stream()), name)
        val cutoff = emitted.agg(max(col(start))).head().getTimestamp(0)
        assert(cutoff != null, s"$name emitted nothing")
        val closed = agg(batchEvents).filter(col(start) <= lit(cutoff))
        assert(emitted.exceptAll(closed).isEmpty &&
          closed.exceptAll(emitted).isEmpty, s"$name != batch")
      }
  }

  test("shard appender under the real engine: micro-batches append, a " +
      "mid-stream compaction folds the tail, the resumed stream appends " +
      "above it; manifest == corpus by totals, raw read, manifest-" +
      "directed read and per-shard disk aggregate") {
    import graft.operators.Shards
    import org.apache.spark.sql.functions.{col, count, length, sum}
    val docs = Tables(spark, sf001, "documents").select($"doc_id", $"text")
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val arrivals = docs.filter(pmod($"doc_id", lit(10)) === 0)
    val totalMass = docs.agg(sum(length($"text"))).head().getLong(0)
    // ten target shards over the whole corpus: each arrival slice is
    // ~1/40 of it, so every append leaves a shard under half the target
    val shardMass = totalMass / 10
    val shardDir = tmpDir("stream-shards")
    Shards.writeShards(corpus, shardDir, "doc_id", length($"text"),
      shardMass, buckets = 4): Unit
    val src = tmpDir("stream-shards-src")
    val ckpt = tmpDir("stream-shards-ckpt")
    def stage(slices: Range): Unit = slices.foreach { i =>
      writeArrivalFile(
        arrivals.filter(pmod(($"doc_id" / 10).cast("long"), lit(4)) === i),
        src, i, 4 - i)
    }
    def runWave(): Unit = {
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          Shards.appendShards(b, shardDir, "doc_id", length(col("text")),
            shardMass, buckets = 4): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def smallShards() = Shards.readManifest(spark, shardDir)
      .filter($"mass" < shardMass / 2).count()

    stage(0 until 2)
    runWave()
    val tailBefore = smallShards()
    assert(tailBefore >= 2, s"appends must leave small shards: $tailBefore")
    Shards.compactShards(spark, shardDir, "doc_id", shardMass,
      buckets = 4): Unit
    assert(smallShards() < tailBefore, "compaction must fold the tail")
    stage(2 until 4)
    runWave()

    val man = Shards.readManifest(spark, shardDir).localCheckpoint(true)
    val tots = man.agg(sum($"docs"), sum($"mass")).head()
    assert(tots.getLong(0) === docs.count())
    assert(tots.getLong(1) === totalMass)
    assert(spark.read.parquet(shardDir).count() === docs.count())
    assert(Shards.readCorpus(spark, shardDir).count() === docs.count())
    val disk = spark.read.parquet(shardDir)
      .groupBy($"shard".cast("long").as("shard"))
      .agg(count(lit(1)).as("docs"), sum($"doc_mass").as("mass"))
    val manRows = man.select($"shard", $"docs", $"mass")
    assert(disk.exceptAll(manRows).isEmpty && manRows.exceptAll(disk).isEmpty,
      "manifest must describe exactly what is on disk")
  }

  private def arrivalBatch(i: Int) =
    batchEvents.filter(pmod($"event_id", lit(3)) === i)

  test("foreachBatch upsert sink: incremental state == batch snapshot; " +
      "replay and restart are no-ops") {
    val src = tmpDir("upsert-src")
    // three arrival files (event_id mod 3 — NOT time-ordered), streamed
    // one file per micro-batch
    (0 to 2).foreach { i =>
      arrivalBatch(i).coalesce(1).write.mode("append").parquet(src)
    }
    val state = tmpDir("upsert-state")
    val ckpt = tmpDir("upsert-ckpt")
    UpsertSink.run(spark, src, state, ckpt)

    val expect = UpsertSink
      .compactBatch(batchEvents, "user_id", "ts", "value", "event_id")
      .collect().map(_.toSeq).toSet
    def stateNow() = UpsertSink.currentState(spark, state)
      .collect().map(_.toSeq).toSet
    assert(stateNow() === expect && expect.nonEmpty)

    // one committed version per micro-batch (one file each)
    val versions = new java.io.File(state).list().count(_.startsWith("v="))
    assert(versions === 3)
    def pointer() = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(state, "_CURRENT")), "UTF-8").trim

    // re-delivering an old batch converges to the same state (the >= tie
    // rule + order-insensitive merge): apply arrival batch 0 AGAIN
    UpsertSink.applyBatch(spark, state, UpsertSink.compactBatch(
      arrivalBatch(0), "user_id", "ts", "value", "event_id"), 99L)
    assert(pointer() === "v=99" && stateNow() === expect)

    // post-pointer-flip redelivery: the SAME batchId arrives again
    // (crash in the _CURRENT-flip → checkpoint-commit window). Without
    // the pointer guard the merge reads v=99 as its base while
    // overwriting v=99 — "Cannot overwrite a path that is also being
    // read from" on every restart. With it: no-throw, state unchanged.
    UpsertSink.applyBatch(spark, state, UpsertSink.compactBatch(
      arrivalBatch(1), "user_id", "ts", "value", "event_id"), 99L)
    assert(pointer() === "v=99" && stateNow() === expect)

    // restart against the same checkpoint: nothing new → no new commit
    UpsertSink.run(spark, src, state, ckpt)
    assert(pointer() === "v=99" && stateNow() === expect)
  }

  test("upsert sink crash window 2: died AFTER writing v=<batchId> but " +
      "BEFORE the pointer flip — redelivery rewrites the orphan and flips") {
    val state = tmpDir("upsert-crash2")
    // committed base: batch 0 applied normally
    UpsertSink.applyBatch(spark, state, UpsertSink.compactBatch(
      arrivalBatch(0), "user_id", "ts", "value", "event_id"), 0L)
    def pointer() = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(state, "_CURRENT")), "UTF-8").trim
    assert(pointer() === "v=0")
    val committed = UpsertSink.currentState(spark, state)
      .collect().map(_.toSeq).toSet

    // simulate the crash: batch 1 wrote its version dir (with GARBAGE
    // relative to the correct fold — here, a copy of an unrelated
    // batch) and died before _CURRENT flipped. The checkpoint never
    // committed, so the engine re-delivers batchId=1.
    UpsertSink.compactBatch(
        arrivalBatch(2), "user_id", "ts", "value", "event_id")
      .write.mode("overwrite").parquet(s"$state/v=1")
    assert(pointer() === "v=0", "pointer must not move pre-flip")
    assert(UpsertSink.currentState(spark, state)
      .collect().map(_.toSeq).toSet === committed,
      "committed state must be unaffected by the orphan version")

    // redelivery: the pointer guard does NOT fire (pointer is v=0, not
    // v=1), so applyBatch re-merges from the committed base, REWRITES
    // the orphan v=1 in full, and flips the pointer — the orphan's
    // garbage content must leave no trace.
    UpsertSink.applyBatch(spark, state, UpsertSink.compactBatch(
      arrivalBatch(1), "user_id", "ts", "value", "event_id"), 1L)
    val expect01 = UpsertSink.compactBatch(
        batchEvents.filter(pmod($"event_id", lit(3)) =!= 2),
        "user_id", "ts", "value", "event_id")
      .collect().map(_.toSeq).toSet
    assert(pointer() === "v=1")
    assert(UpsertSink.currentState(spark, state)
      .collect().map(_.toSeq).toSet === expect01)
  }

  test("tombstones persist in state: a late older update cannot " +
      "resurrect a deleted key, in any arrival order") {
    import org.apache.spark.sql.functions.to_timestamp
    def batch(rows: Seq[(Long, String, Double, Long, Boolean)]) =
      UpsertSink.compactBatch(
        rows.toDF("user_id", "s", "value", "event_id", "del")
          .withColumn("ts", to_timestamp($"s")).drop("s"),
        "user_id", "ts", "value", "event_id", deletedCol = Some("del"))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      UpsertSink.stateSchema)
    val insert = batch(Seq((1L, "2024-01-01 00:00:10", 1.0, 1L, false)))
    val tombstone = batch(Seq((1L, "2024-01-01 00:00:20", 0.0, 2L, true)))
    val lateUpdate = batch(Seq((1L, "2024-01-01 00:00:15", 5.0, 3L, false)))
    for (order <- Seq(Seq(insert, tombstone, lateUpdate),
        Seq(lateUpdate, tombstone, insert),
        Seq(tombstone, insert, lateUpdate))) {
      val st = order.foldLeft(empty)((s, b) =>
        graft.operators.Scd.mergeUpsertLatest(s, b, "k", "last_us", "tie"))
        .collect()
      // live view: key 1 is gone; the tombstone row itself is retained
      // (dropping it at delete time is what would let ts=15 resurrect)
      assert(st.count(r => !r.getBoolean(4)) === 0)
      assert(st.length === 1 && st.head.getBoolean(4) &&
        st.head.getLong(2) === 20000000L +
          java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L)
    }
  }

  test("streaming upsert with tombstones end-to-end: deleted key absent " +
      "from live view, tombstone retained in full state") {
    import org.apache.spark.sql.functions.to_timestamp
    def stage(dir: String, rows: Seq[(Long, String, Double, Long, Boolean)]) =
      rows.toDF("user_id", "s", "value", "event_id", "del")
        .withColumn("ts", to_timestamp($"s")).drop("s")
        .coalesce(1).write.mode("append").parquet(dir)
    val src = tmpDir("upsert-del-src")
    stage(src, Seq((1L, "2024-01-01 00:00:10", 1.0, 1L, false),
      (2L, "2024-01-01 00:00:10", 2.0, 2L, false)))
    stage(src, Seq((1L, "2024-01-01 00:00:20", 0.0, 3L, true)))
    val state = tmpDir("upsert-del-state")
    UpsertSink.run(spark, src, state, tmpDir("upsert-del-ckpt"),
      deletedCol = Some("del"))
    assert(UpsertSink.liveState(spark, state)
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(UpsertSink.currentState(spark, state).count() === 2)
  }

  test("mergeUpsertLatest fold is arrival-order insensitive") {
    val batches = (0 to 2).map(i => UpsertSink.compactBatch(
      arrivalBatch(i), "user_id", "ts", "value", "event_id"))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      UpsertSink.stateSchema)
    def fold(order: Seq[Int]) = order.map(batches)
      .foldLeft(empty)((st, b) =>
        graft.operators.Scd.mergeUpsertLatest(st, b, "k", "last_us", "tie"))
      .collect().map(_.toSeq).toSet
    val a = fold(Seq(0, 1, 2))
    assert(a === fold(Seq(2, 1, 0)) && a === fold(Seq(1, 2, 0)) && a.nonEmpty)
  }

  test("continuous ingest stream: within-batch exact + vs-corpus-index + " +
      "vs-accepted dedup == the sequential batch replay") {
    import graft.operators.Dedup
    import graft.streaming.IngestStream
    val docs = Tables(spark, sf001, "documents")
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val idxPrefix = "ingest_stream_test_idx"
    Dedup.writeNgramIndexBucketed(corpus, idxPrefix, "doc_id", "text",
      n = 3, threshold = 0.5, buckets = 4)
    try {
      // two arrival files, processed as two micro-batches (file-source
      // modification-time order pinned explicitly, maxFilesPerTrigger=1):
      //   file 1: fresh docs + a corpus-text dup + an exact within-batch
      //           dup pair (same text, two ids — min id must win)
      //   file 2: a dup of a file-1 ACCEPTED doc (only the cross-batch
      //           accepted probe can catch it) + a fresh doc
      // planted texts use a vocabulary disjoint from the corpus (and
      // from each other), so "fresh" is fresh by construction — real
      // doc texts have organic near-dups in the corpus, which is
      // exactly what the probe is supposed to catch
      def synthText(stem: String): String =
        (0 until 20).map(i => s"zzq$stem$i").mkString(" ")
      val a = synthText("alpha"); val b = synthText("beta")
      val c = synthText("gamma")
      val corpusText = corpus.select($"text").head().getString(0)
      val srcDir = tmpDir("ingest-src")
      val f1 = Seq(
        (1000001L, a),          // fresh -> accepted
        (1000002L, corpusText), // dup of the frozen corpus -> dropped
        (1000003L, b), (1000004L, b) // exact pair -> min id 1000003 kept
      ).toDF("doc_id", "text")
      val f2 = Seq(
        (1000005L, a),          // dup of batch-1 ACCEPTED doc -> dropped
        (1000006L, c)           // fresh -> accepted
      ).toDF("doc_id", "text")
      f1.coalesce(1).write.parquet(s"$srcDir/f1")
      f2.coalesce(1).write.parquet(s"$srcDir/f2")
      // file source streams a flat dir; move part files up with ordered
      // mod times so batch 1 = f1, batch 2 = f2
      def promote(sub: String, age: Long): Unit = {
        val part = new java.io.File(s"$srcDir/$sub").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(s"$srcDir/$sub.parquet")
        assert(part.renameTo(dst))
        assert(dst.setLastModified(System.currentTimeMillis() - age))
        new java.io.File(s"$srcDir/$sub").listFiles().foreach(_.delete())
        new java.io.File(s"$srcDir/$sub").delete(): Unit
      }
      promote("f1", 60000); promote("f2", 30000)

      val outDir = tmpDir("ingest-out")
      val ckptDir = tmpDir("ingest-ckpt")
      IngestStream.run(spark, srcDir, idxPrefix, indexBuckets = 4,
        outDir = outDir, checkpointDir = ckptDir,
        maxFilesPerTrigger = 1)
      val got = IngestStream.accepted(spark, outDir).get
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(got === Set(1000001L, 1000003L, 1000006L),
        s"accepted set diverged: $got")
      // and the stream run == the sequential applyBatch replay (the
      // engine's file/batch/checkpoint plumbing added nothing, lost
      // nothing)
      val r1 = IngestStream.applyBatch(spark,
        spark.read.parquet(s"$srcDir/f1.parquet"), None, idxPrefix,
        "doc_id", "text", 3, 0.5)
      val r2 = IngestStream.applyBatch(spark,
        spark.read.parquet(s"$srcDir/f2.parquet"), Some(r1), idxPrefix,
        "doc_id", "text", 3, 0.5)
      val replay = (r1.select($"doc_id").collect() ++
        r2.select($"doc_id").collect()).map(_.getLong(0)).toSet
      assert(replay === got)

      // restarting over the existing outDir with a FRESH checkpoint is
      // refused: batch ids would restart at 0, bypassing AND clobbering
      // the accepted batches
      val guard = intercept[IllegalArgumentException] {
        IngestStream.run(spark, srcDir, idxPrefix, indexBuckets = 4,
          outDir = outDir, checkpointDir = tmpDir("ingest-ckpt-fresh"),
          maxFilesPerTrigger = 1)
      }
      assert(guard.getMessage.contains("next batch id"))

      // COMPACTION: fold the accepted set into index version N+1.
      // After it, the accepted-set probe restarts empty and the dups it
      // was catching are caught one stage earlier, by the INDEX.
      val folded = IngestStream.compact(spark, corpus, idxPrefix, outDir,
        buckets = 4)
      assert(folded >= 0L)
      assert(IngestStream.accepted(spark, outDir).isEmpty,
        "accepted-set probe must be empty after compaction")
      // the folded rows are archived, not lost
      val archived = spark.read.parquet(s"$outDir/compacted")
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(archived === got)
      // a dup of a PRE-compaction acceptance is caught by the index
      // alone (applyBatch with NO accepted set = stage 2 only)
      val d = synthText("delta")
      val f3 = Seq(
        (1000007L, a),  // dup of compacted acceptance -> index drops it
        (1000008L, d)   // fresh -> accepted
      ).toDF("doc_id", "text")
      val r3 = IngestStream.applyBatch(spark, f3, None, idxPrefix,
        "doc_id", "text", 3, 0.5)
      assert(r3.select($"doc_id").collect().map(_.getLong(0)).toSet ===
        Set(1000008L), "rebuilt index must catch the compacted dup")
      // and through the ENGINE: resume with the ORIGINAL checkpoint —
      // batch ids continue past the compaction point, the run() guard
      // stays satisfied, and only the fresh doc lands
      f3.coalesce(1).write.parquet(s"$srcDir/f3")
      promote("f3", 1000)
      IngestStream.run(spark, srcDir, idxPrefix, indexBuckets = 4,
        outDir = outDir, checkpointDir = ckptDir, maxFilesPerTrigger = 1)
      val got3 = IngestStream.accepted(spark, outDir).get
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(got3 === Set(1000008L), s"post-compaction ingest: $got3")
    } finally {
      Seq("df", "prefix", "shingles").foreach { s =>
        graft.operators.Bucketed.dropBucketed(spark, s"${idxPrefix}_$s")
      }
    }
  }

  test("embedding ingest stream: within-batch exact + vs-sign-index + " +
      "vs-accepted dedup == the sequential batch replay") {
    import graft.operators.{Dedup, Similarity}
    import graft.streaming.EmbedIngestStream
    val dims = 64
    val emb = Tables(spark, sf001, "embeddings")
    val corpus = emb.filter(pmod($"vec_id", lit(10)) =!= 0)
    val idxPath = tmpDir("embed-ingest-idx")
    Similarity.writeSignIndex(corpus, idxPath, dims, numPlanes = 6,
      seed = 42L)

    // dup arrivals are EXACT copies (identical signature → always in
    // the probed bucket, cosine 1 → always above threshold); fresh
    // arrivals are seed-searched to have max |cosine| < 0.38 against
    // the corpus AND each other (operator threshold 0.4; float-vs-
    // double rounding is ~1e-7, nowhere near the 0.02 slack), so
    // "fresh" is fresh by construction — deterministic for a given
    // testdata generation, never flaky. 0.38 passes for ~half of all
    // seeds vs 450 corpus vectors; a tighter margin is statistically
    // unreachable (max of 450 ~N(0, 1/64) cosines).
    val corpusVecs = corpus.select($"embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / math.sqrt(na * nb)
    }
    def freshFrom(startSeed: Int, alsoFarFrom: Seq[Array[Float]]): Array[Float] =
      Iterator.from(startSeed).map { s =>
        val r = new scala.util.Random(s)
        Array.fill(dims)(r.nextGaussian().toFloat)
      }.find(v => (corpusVecs.iterator ++ alsoFarFrom.iterator)
        .forall(c => math.abs(cos(v, c)) < 0.38)).get
    val freshA = freshFrom(7, Nil)
    val freshC = freshFrom(1007, Seq(freshA))
    val corpusVec = corpusVecs.head
    val srcDir = tmpDir("embed-ingest-src")
    val f1 = Seq(
      (1000001L, freshA),           // fresh -> accepted
      (1000002L, corpusVec),        // exact corpus dup -> dropped
      (1000003L, freshC), (1000004L, freshC) // exact pair -> min id kept
    ).toDF("vec_id", "embedding")
    val f2 = Seq(
      (1000005L, freshA)            // dup of batch-1 ACCEPTED -> dropped
    ).toDF("vec_id", "embedding")
    f1.coalesce(1).write.parquet(s"$srcDir/f1")
    f2.coalesce(1).write.parquet(s"$srcDir/f2")
    def promote(sub: String, age: Long): Unit = {
      val part = new java.io.File(s"$srcDir/$sub").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$srcDir/$sub.parquet")
      assert(part.renameTo(dst))
      assert(dst.setLastModified(System.currentTimeMillis() - age))
      new java.io.File(s"$srcDir/$sub").listFiles().foreach(_.delete())
      new java.io.File(s"$srcDir/$sub").delete(): Unit
    }
    promote("f1", 60000); promote("f2", 30000)

    val outDir = tmpDir("embed-ingest-out")
    EmbedIngestStream.run(spark, srcDir, idxPath, dims,
      outDir = outDir, checkpointDir = tmpDir("embed-ingest-ckpt"),
      maxFilesPerTrigger = 1)
    val got = EmbedIngestStream.accepted(spark, outDir).get
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1000001L, 1000003L), s"accepted set diverged: $got")

    // stream run == sequential applyBatch replay
    val r1 = EmbedIngestStream.applyBatch(spark,
      spark.read.parquet(s"$srcDir/f1.parquet"), None, idxPath,
      "vec_id", "embedding", dims, 0.4, 1, 42L)
    val r2 = EmbedIngestStream.applyBatch(spark,
      spark.read.parquet(s"$srcDir/f2.parquet"), Some(r1), idxPath,
      "vec_id", "embedding", dims, 0.4, 1, 42L)
    val replay = (r1.select($"vec_id").collect() ++
      r2.select($"vec_id").collect()).map(_.getLong(0)).toSet
    assert(replay === got)

    // COMPACTION, vector side: fold accepted vectors into the sign
    // index (planes re-derive, dims/seed from the sidecar), accepted
    // set resets, and the dup of a pre-compaction acceptance is caught
    // by the INDEX alone
    val folded = EmbedIngestStream.compact(spark, corpus, idxPath, outDir)
    assert(folded >= 0L)
    assert(EmbedIngestStream.accepted(spark, outDir).isEmpty,
      "accepted-set probe must be empty after compaction")
    assert(spark.read.parquet(s"$outDir/compacted")
      .select($"vec_id").collect().map(_.getLong(0)).toSet === got)
    val freshD = freshFrom(2007, Seq(freshA, freshC))
    val f3 = Seq(
      (1000006L, freshA), // dup of compacted acceptance -> index drops it
      (1000007L, freshD)  // fresh -> accepted
    ).toDF("vec_id", "embedding")
    val r3 = EmbedIngestStream.applyBatch(spark, f3, None, idxPath,
      "vec_id", "embedding", dims, 0.4, 1, 42L)
    assert(r3.select($"vec_id").collect().map(_.getLong(0)).toSet ===
      Set(1000007L), "rebuilt sign index must catch the compacted dup")
  }

  test("within-batch NEAR-dup resolution (opt-in stage 1.5): min-id " +
      "keeper per near-dup cluster; default leaves near pairs intact") {
    import graft.operators.Dedup
    import graft.streaming.IngestStream
    val docs = Tables(spark, sf001, "documents")
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val idxPrefix = "ingest_near_test_idx"
    Dedup.writeNgramIndexBucketed(corpus, idxPrefix, "doc_id", "text",
      n = 3, threshold = 0.5, buckets = 4)
    try {
      def synthText(stem: String): String =
        (0 until 20).map(i => s"zzq$stem$i").mkString(" ")
      val a = synthText("nalpha")
      // near (not exact) pair: one token of twenty differs — Jaccard
      // well above 0.5, fingerprints differ
      val aNear = a.replace("nalpha7", "nalphaX")
      val batch = Seq((5000001L, a), (5000002L, aNear),
        (5000003L, synthText("nbeta"))).toDF("doc_id", "text")
      // default: exact-only stage 1 keeps BOTH near twins
      val noOpt = IngestStream.applyBatch(spark, batch, None, idxPrefix,
        "doc_id", "text", 3, 0.5)
      assert(noOpt.select($"doc_id").collect().map(_.getLong(0)).toSet
        === Set(5000001L, 5000002L, 5000003L))
      // opted in: the cluster collapses to its min id
      val opt = IngestStream.applyBatch(spark, batch, None, idxPrefix,
        "doc_id", "text", 3, 0.5, nearWithinBatch = true)
      assert(opt.select($"doc_id").collect().map(_.getLong(0)).toSet
        === Set(5000001L, 5000003L))
    } finally {
      Seq("df", "prefix", "shingles").foreach { s =>
        graft.operators.Bucketed.dropBucketed(spark, s"${idxPrefix}_$s")
      }
    }
  }

  test("model-scored quality stage (opt-in stage 0): low-scoring " +
      "arrivals drop before dedup; a mid-stream promotion applies on " +
      "the next batch through the pointer") {
    import graft.operators.{Dedup, TextModel}
    import graft.streaming.IngestStream
    val docs = Tables(spark, sf001, "documents")
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val idxPrefix = "ingest_model_test_idx"
    Dedup.writeNgramIndexBucketed(corpus, idxPrefix, "doc_id", "text",
      n = 3, threshold = 0.5, buckets = 4)
    val modelPath = tmpDir("ingest-model")
    // planted scorer: goodtok-positive, badtok-negative
    val labeled = (1L to 40L).map { i =>
      val pos = i % 2 == 0
      val body = if (pos) "goodtok" else "badtok"
      (i, s"$body filler$i $body filler$i $body", pos)
    }.toDF("doc_id", "text", "lab")
    TextModel.writeModel(
      TextModel.trainLogOdds(labeled, "text", $"lab", buckets = 512),
      modelPath, buckets = 512, bigrams = true)
    try {
      val batch = Seq(
        (6000001L, (0 until 20).map(i => s"goodtok zq$i").mkString(" ")),
        (6000002L, (0 until 20).map(i => s"badtok zq$i").mkString(" "))
      ).toDF("doc_id", "text")
      // default: no stage 0 — both survive (neither is a dup)
      val off = IngestStream.applyBatch(spark, batch, None, idxPrefix,
        "doc_id", "text", 3, 0.5)
      assert(off.select($"doc_id").collect().map(_.getLong(0)).toSet
        === Set(6000001L, 6000002L))
      // opted in: the badtok doc scores below threshold and never
      // reaches the dedup probes; output schema is unchanged
      val on = IngestStream.applyBatch(spark, batch, None, idxPrefix,
        "doc_id", "text", 3, 0.5, modelPath = Some(modelPath))
      assert(on.columns.toSeq === batch.columns.toSeq)
      assert(on.select($"doc_id").collect().map(_.getLong(0)).toSet
        === Set(6000001L))
      // a promotion committed between batches flips the decision with
      // no restart: stage 0 reads the pointer per batch
      TextModel.writeModel(
        TextModel.trainLogOdds(labeled, "text", !$"lab", buckets = 512),
        modelPath, buckets = 512, bigrams = true)
      val after = IngestStream.applyBatch(spark, batch, None, idxPrefix,
        "doc_id", "text", 3, 0.5, modelPath = Some(modelPath))
      assert(after.select($"doc_id").collect().map(_.getLong(0)).toSet
        === Set(6000002L))
    } finally {
      Seq("df", "prefix", "shingles").foreach { s =>
        graft.operators.Bucketed.dropBucketed(spark, s"${idxPrefix}_$s")
      }
    }
  }

  test("embed within-batch NEAR-dup resolution (opt-in stage 1.5): " +
      "min-id keeper per near-dup cluster; default keeps near twins") {
    import graft.operators.Similarity
    import graft.streaming.EmbedIngestStream
    val dims = 64
    val emb = Tables(spark, sf001, "embeddings")
    val corpus = emb.filter(pmod($"vec_id", lit(10)) =!= 0)
    val idxPath = tmpDir("embed-near15-idx")
    Similarity.writeSignIndex(corpus, idxPath, dims, numPlanes = 6,
      seed = 42L)
    val corpusVecs = corpus.select($"embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / math.sqrt(na * nb)
    }
    def freshFrom(startSeed: Int,
        alsoFarFrom: Seq[Array[Float]]): Array[Float] =
      Iterator.from(startSeed).map { s =>
        val r = new scala.util.Random(s)
        Array.fill(dims)(r.nextGaussian().toFloat)
      }.find(v => (corpusVecs.iterator ++ alsoFarFrom.iterator)
        .forall(c => math.abs(cos(v, c)) < 0.38)).get
    val freshA = freshFrom(31, Nil)
    // NEAR (not exact) twin: one coordinate nudged — cosine ~0.9998 to
    // freshA (well above the 0.4 threshold), different bytes so the
    // exact stage keeps both, and still < 0.383 vs every corpus vector
    // (the nudge moves any cosine by ≤ |Δv|/|v| ≈ 0.003)
    val aNear = freshA.clone(); aNear(0) = aNear(0) + 0.02f
    val freshC = freshFrom(2031, Seq(freshA))
    val batch = Seq((6000001L, freshA), (6000002L, aNear),
      (6000003L, freshC)).toDF("vec_id", "embedding")
    // default: exact-only stage 1 keeps BOTH near twins
    val noOpt = EmbedIngestStream.applyBatch(spark, batch, None, idxPath,
      "vec_id", "embedding", dims, 0.4, 1, 42L)
    assert(noOpt.select($"vec_id").collect().map(_.getLong(0)).toSet
      === Set(6000001L, 6000002L, 6000003L))
    // opted in: the near cluster collapses to its min id
    val opt = EmbedIngestStream.applyBatch(spark, batch, None, idxPath,
      "vec_id", "embedding", dims, 0.4, 1, 42L, nearWithinBatch = true)
    assert(opt.select($"vec_id").collect().map(_.getLong(0)).toSet
      === Set(6000001L, 6000003L))
  }

  test("versioned compaction (text): a rebuild killed mid-flight leaves " +
      "every probe on version N; the retry commits N+1; repeated " +
      "compactions fold ALL archived generations") {
    import graft.operators.{Dedup, IndexVersions}
    import graft.streaming.IngestStream
    val docs = Tables(spark, sf001, "documents")
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val idxPrefix = "ingest_kill_test_idx"
    Dedup.writeNgramIndexBucketed(corpus, idxPrefix, "doc_id", "text",
      n = 3, threshold = 0.5, buckets = 4)
    try {
      val root = IndexVersions.tableRoot(spark, idxPrefix)
      assert(IndexVersions.currentVersion(spark, root).isEmpty)
      def synthText(stem: String): String =
        (0 until 20).map(i => s"zzq$stem$i").mkString(" ")
      val a = synthText("kalpha"); val c = synthText("kgamma")
      val corpusText = corpus.select($"text").head().getString(0)
      val outDir = tmpDir("kill-out")
      val b1 = Seq((2000001L, a)).toDF("doc_id", "text")
      IngestStream.applyBatch(spark, b1, None, idxPrefix,
          "doc_id", "text", 3, 0.5)
        .write.mode("overwrite").parquet(s"$outDir/batch=0")

      // KILL the rebuild mid-flight: a corpus whose evaluation raises
      // poisons the index build after the archive step
      val poisoned = corpus.select($"doc_id",
        raise_error(lit("injected rebuild failure")).cast("string")
          .as("text"))
      intercept[Exception] {
        IngestStream.compact(spark, poisoned, idxPrefix, outDir,
          buckets = 4)
      }
      // no pointer flip: every probe still resolves to version N
      assert(IndexVersions.currentVersion(spark, root).isEmpty,
        "a failed rebuild must not move the pointer")
      // the stream is NOT down: the accepted set is intact (stage 3)
      // and the old index serves stage 2 — both dup classes caught
      val probe = IngestStream.applyBatch(spark,
        Seq((2000002L, a),          // dup of accepted -> stage 3 drops
            (2000003L, corpusText), // corpus dup -> old index drops
            (2000004L, c)           // fresh -> kept
        ).toDF("doc_id", "text"),
        IngestStream.accepted(spark, outDir), idxPrefix,
        "doc_id", "text", 3, 0.5)
      assert(probe.select($"doc_id").collect().map(_.getLong(0)).toSet
        === Set(2000004L), "probes must keep working after a dead rebuild")
      assert(IngestStream.accepted(spark, outDir).isDefined,
        "batch dirs must survive a failed rebuild")

      // the RETRY commits version 1 atomically (corpusCount exercises
      // the knownCount path — no corpus re-scan for bucket sizing)
      val folded = IngestStream.compact(spark, corpus, idxPrefix, outDir,
        buckets = 4, corpusCount = corpus.count())
      assert(folded === 0L)
      assert(IndexVersions.currentVersion(spark, root) === Some(1))
      assert(IngestStream.accepted(spark, outDir).isEmpty)
      // index alone (no accepted set) now catches the folded acceptance
      val viaIndex = IngestStream.applyBatch(spark,
        Seq((2000005L, a), (2000006L, c)).toDF("doc_id", "text"),
        None, idxPrefix, "doc_id", "text", 3, 0.5)
      assert(viaIndex.select($"doc_id").collect().map(_.getLong(0)).toSet
        === Set(2000006L))

      // SECOND generation: accept c, compact again → version 2 must
      // still catch generation-1's acceptance (ALL archives fold in,
      // not just the newest — losing a into v2 would re-admit it)
      viaIndex.select($"doc_id", $"text")
        .write.mode("overwrite").parquet(s"$outDir/batch=1")
      assert(IngestStream.compact(spark, corpus, idxPrefix, outDir,
        buckets = 4) === 1L)
      assert(IndexVersions.currentVersion(spark, root) === Some(2))
      val gen2 = IngestStream.applyBatch(spark,
        Seq((2000007L, a), (2000008L, c),
          (2000009L, synthText("kdelta"))).toDF("doc_id", "text"),
        None, idxPrefix, "doc_id", "text", 3, 0.5)
      assert(gen2.select($"doc_id").collect().map(_.getLong(0)).toSet
        === Set(2000009L),
        "version 2 must hold BOTH archived generations")
    } finally {
      Seq("", "_ixv1", "_ixv2").foreach { v =>
        Seq("df", "prefix", "shingles").foreach { s =>
          graft.operators.Bucketed.dropBucketed(spark, s"$idxPrefix$v" + s"_$s")
        }
      }
      IndexVersions.clearPointer(spark,
        IndexVersions.tableRoot(spark, idxPrefix))
    }
  }

  test("versioned compaction (embeddings): killed rebuild leaves the " +
      "pointer on version N; retry commits and probes flip over") {
    import graft.operators.{IndexVersions, Similarity}
    import graft.streaming.EmbedIngestStream
    val dims = 64
    val emb = Tables(spark, sf001, "embeddings")
    val corpus = emb.filter(pmod($"vec_id", lit(10)) =!= 0)
    val idxPath = tmpDir("embed-kill-idx")
    Similarity.writeSignIndex(corpus, idxPath, dims, numPlanes = 6,
      seed = 42L)
    val corpusVec = corpus.select($"embedding").head().getSeq[Float](0).toArray
    val outDir = tmpDir("embed-kill-out")
    // accept one batch (exact copies are the deterministic dup class)
    val fresh = {
      val r = new scala.util.Random(7)
      Array.fill(dims)(r.nextGaussian().toFloat)
    }
    EmbedIngestStream.applyBatch(spark,
        Seq((3000001L, fresh)).toDF("vec_id", "embedding"), None, idxPath,
        "vec_id", "embedding", dims, 0.4, 1, 42L)
      .write.mode("overwrite").parquet(s"$outDir/batch=0")
    val poisoned = corpus.select($"vec_id",
      raise_error(lit("injected rebuild failure")).cast("array<float>")
        .as("embedding"))
    intercept[Exception] {
      EmbedIngestStream.compact(spark, poisoned, idxPath, outDir)
    }
    assert(IndexVersions.currentVersion(spark, idxPath).isEmpty)
    // old index still serves: corpus dup dropped, accepted intact
    val probe = EmbedIngestStream.applyBatch(spark,
      Seq((3000002L, corpusVec)).toDF("vec_id", "embedding"),
      EmbedIngestStream.accepted(spark, outDir), idxPath,
      "vec_id", "embedding", dims, 0.4, 1, 42L)
    assert(probe.count() === 0L)
    // retry commits; the index alone catches the folded acceptance
    assert(EmbedIngestStream.compact(spark, corpus, idxPath, outDir,
      corpusCount = corpus.count()) === 0L)
    assert(IndexVersions.currentVersion(spark, idxPath) === Some(1))
    val viaIndex = EmbedIngestStream.applyBatch(spark,
      Seq((3000003L, fresh)).toDF("vec_id", "embedding"), None, idxPath,
      "vec_id", "embedding", dims, 0.4, 1, 42L)
    assert(viaIndex.count() === 0L,
      "compacted sign index must catch the folded acceptance")
    // retention: generation zero (the flat bucket dirs at the root) can
    // be dropped once a version is committed; the committed index keeps
    // serving. Refused while nothing is committed (checked on a fresh
    // root above by construction — currentVersion was None pre-commit).
    val deleted = IndexVersions.dropOldPathVersions(spark, idxPath,
      keepPrevious = 0)
    assert(deleted.nonEmpty, "gen-0 flat data should have been retired")
    val afterRetention = EmbedIngestStream.applyBatch(spark,
      Seq((3000004L, fresh)).toDF("vec_id", "embedding"), None, idxPath,
      "vec_id", "embedding", dims, 0.4, 1, 42L)
    assert(afterRetention.count() === 0L,
      "retention must not touch the committed version")
  }

  test("auto-compact trigger: stream crosses the row threshold, " +
      "compaction fires between micro-batches, stage-3 probe restarts " +
      "empty, batch ids continue") {
    import graft.operators.{Dedup, IndexVersions}
    import graft.streaming.IngestStream
    val docs = Tables(spark, sf001, "documents")
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val idxPrefix = "ingest_auto_test_idx"
    Dedup.writeNgramIndexBucketed(corpus, idxPrefix, "doc_id", "text",
      n = 3, threshold = 0.5, buckets = 4)
    try {
      val root = IndexVersions.tableRoot(spark, idxPrefix)
      def synthText(stem: String): String =
        (0 until 20).map(i => s"zzq$stem$i").mkString(" ")
      val a = synthText("aalpha"); val c = synthText("agamma")
      val srcDir = tmpDir("auto-src")
      val f1 = Seq((4000001L, a)).toDF("doc_id", "text")
      // f2's dup of a can ONLY be caught by the rebuilt index: the
      // auto-compact after batch 0 cleared the accepted set
      val f2 = Seq((4000002L, a), (4000003L, c)).toDF("doc_id", "text")
      f1.coalesce(1).write.parquet(s"$srcDir/f1")
      f2.coalesce(1).write.parquet(s"$srcDir/f2")
      def promote(sub: String, age: Long): Unit = {
        val part = new java.io.File(s"$srcDir/$sub").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(s"$srcDir/$sub.parquet")
        assert(part.renameTo(dst))
        assert(dst.setLastModified(System.currentTimeMillis() - age))
        new java.io.File(s"$srcDir/$sub").listFiles().foreach(_.delete())
        new java.io.File(s"$srcDir/$sub").delete(): Unit
      }
      promote("f1", 60000); promote("f2", 30000)
      val outDir = tmpDir("auto-out")
      val ckptDir = tmpDir("auto-ckpt")

      // no thresholds = never; absent dirs = never
      assert(!IngestStream.shouldCompact(spark, outDir))
      assert(!IngestStream.shouldCompact(spark, outDir,
        maxAcceptedRows = 0L))

      IngestStream.run(spark, srcDir, idxPrefix, indexBuckets = 0,
        outDir = outDir, checkpointDir = ckptDir, maxFilesPerTrigger = 1,
        compactCorpus = Some(corpus), compactMaxRows = 0L)
      // every accepted batch crossed the 0-row threshold → compacted:
      // stage-3 probe is empty, both survivors live in the archives
      assert(IngestStream.accepted(spark, outDir).isEmpty,
        "auto-compact must clear the accepted set")
      assert(IndexVersions.currentVersion(spark, root) === Some(2))
      assert(spark.read.parquet(s"$outDir/compacted")
        .select($"doc_id").collect().map(_.getLong(0)).toSet
        === Set(4000001L, 4000003L),
        "archives must hold exactly the accepted survivors")
      // the committed index alone catches both generations' acceptances
      val viaIndex = IngestStream.applyBatch(spark,
        Seq((4000004L, a), (4000005L, c),
          (4000006L, synthText("adelta"))).toDF("doc_id", "text"),
        None, idxPrefix, "doc_id", "text", 3, 0.5)
      assert(viaIndex.select($"doc_id").collect().map(_.getLong(0)).toSet
        === Set(4000006L))
      // batch ids continue: resume the SAME checkpoint with a new file;
      // the run guard stays satisfied because compaction cleared the
      // batch dirs but the checkpoint kept counting
      val f3 = Seq((4000007L, synthText("aepsilon")))
        .toDF("doc_id", "text")
      f3.coalesce(1).write.parquet(s"$srcDir/f3")
      promote("f3", 1000)
      IngestStream.run(spark, srcDir, idxPrefix, indexBuckets = 0,
        outDir = outDir, checkpointDir = ckptDir, maxFilesPerTrigger = 1,
        compactCorpus = Some(corpus), compactMaxRows = 0L)
      assert(IndexVersions.currentVersion(spark, root) === Some(3))
      assert(spark.read.parquet(s"$outDir/compacted")
        .select($"doc_id").collect().map(_.getLong(0)).toSet
        === Set(4000001L, 4000003L, 4000007L))
      // retention: keepPrevious=0 retires generations 0..2; the
      // committed version 3 still catches every folded acceptance
      val dropped = IndexVersions.dropOldTableVersions(spark, idxPrefix,
        keepPrevious = 0)
      assert(dropped === Seq(idxPrefix, s"${idxPrefix}_ixv1",
        s"${idxPrefix}_ixv2"))
      assert(!spark.catalog.tableExists(s"${idxPrefix}_ixv1_df"))
      val afterRetention = IngestStream.applyBatch(spark,
        Seq((4000009L, a), (4000010L, c)).toDF("doc_id", "text"),
        None, idxPrefix, "doc_id", "text", 3, 0.5)
      assert(afterRetention.count() === 0L,
        "retention must not touch the committed version")
    } finally {
      (Seq("") ++ (1 to 3).map(v => s"_ixv$v")).foreach { v =>
        Seq("df", "prefix", "shingles").foreach { s =>
          graft.operators.Bucketed.dropBucketed(spark, s"$idxPrefix$v" + s"_$s")
        }
      }
      IndexVersions.clearPointer(spark,
        IndexVersions.tableRoot(spark, idxPrefix))
    }
  }

  test("flat rebuild over a compacted prefix: readers stay on the " +
      "committed version until the rebuild COMPLETES (pointer cleared " +
      "last, never first)") {
    import graft.operators.{Bucketed, Dedup, IndexVersions}
    val corpus = Tables(spark, sf001, "documents")
      .filter(pmod($"doc_id", lit(10)) =!= 0)
      .select($"doc_id", $"text")
    val idxPrefix = "flat_rebuild_order_idx"
    val root = IndexVersions.tableRoot(spark, idxPrefix)
    try {
      // committed generation 1 (built beside an empty generation 0 —
      // the state any compacted index is in)
      Dedup.writeNgramIndexBucketed(corpus,
        IndexVersions.versionPrefix(idxPrefix, 1), "doc_id", "text",
        buckets = 4)
      IndexVersions.commit(spark, root, 1)
      assert(IndexVersions.currentVersion(spark, root) === Some(1))
      val corpusText = corpus.select($"text").head().getString(0)
      def probeIds(): Set[Long] = Dedup.probeNgramIndexBucketed(spark,
          idxPrefix,
          Seq((4000001L, corpusText)).toDF("doc_id", "text"),
          "doc_id", "text")
        .select($"id_batch").collect().map(_.getLong(0)).toSet

      // a FLAT rebuild that dies mid-write must leave the pointer —
      // and every concurrent probe — on the committed version 1;
      // clearing the pointer first would expose the half-written
      // bare-prefix tables for the whole build window
      val poisoned = corpus.select($"doc_id",
        raise_error(lit("injected flat-rebuild failure")).cast("string")
          .as("text"))
      intercept[Exception] {
        Dedup.writeNgramIndexBucketed(poisoned, idxPrefix, "doc_id",
          "text", buckets = 4)
      }
      assert(IndexVersions.currentVersion(spark, root) === Some(1),
        "a dead flat rebuild must not clear the pointer")
      assert(probeIds() === Set(4000001L),
        "probes must still resolve version 1 after a dead flat rebuild")

      // the completed flat rebuild DOES reset to generation zero —
      // over a smaller corpus, so resolution is observable: the old
      // version knows doc0text, generation 0 does not
      val smaller = corpus.filter($"text" =!= corpusText)
      Dedup.writeNgramIndexBucketed(smaller, idxPrefix, "doc_id",
        "text", buckets = 4)
      assert(IndexVersions.currentVersion(spark, root).isEmpty,
        "a completed flat rebuild must clear the pointer")
      assert(probeIds().isEmpty,
        "probes must resolve the fresh generation-zero tables")
    } finally {
      Seq("", "_ixv1").foreach { v =>
        Seq("df", "prefix", "shingles").foreach { s =>
          Bucketed.dropBucketed(spark, s"$idxPrefix$v" + s"_$s")
        }
      }
      IndexVersions.clearPointer(spark, root)
    }
  }

  test("compaction retry after ANY crash folds each accepted row " +
      "exactly once: already-archived batches skip, partial archives " +
      "rebuild") {
    import graft.operators.{Bucketed, Dedup, IndexVersions}
    import graft.streaming.IngestStream
    val corpus = Tables(spark, sf001, "documents")
      .filter(pmod($"doc_id", lit(10)) =!= 0)
      .select($"doc_id", $"text")
    val idxPrefix = "retry_once_idx"
    val root = IndexVersions.tableRoot(spark, idxPrefix)
    val outDir = tmpDir("retry-once-out")
    def synthText(stem: String): String =
      (0 until 20).map(i => s"qqv$stem$i").mkString(" ")
    def stage(id: Long, batch: Long, stem: String): Unit =
      Seq((id, synthText(stem))).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$outDir/batch=$batch")
    def archiveRows() = spark.read.parquet(
      IngestStream.archiveDirs(spark, outDir): _*)
    try {
      Dedup.writeNgramIndexBucketed(corpus, idxPrefix, "doc_id", "text",
        buckets = 4)
      // CRASH SHAPE 1 — archived but batch dirs never cleared: the
      // retry must not re-archive batch 0 under the next upto=
      stage(5000001L, 0L, "ra")
      IngestStream.archiveAccepted(spark, outDir,
        IngestStream.batchDirs(spark, outDir), Seq("doc_id", "text"))
      assert(IngestStream.batchDirs(spark, outDir).nonEmpty,
        "simulated crash: batch dirs survive the archive write")
      stage(5000002L, 1L, "rb")
      assert(IngestStream.compact(spark, corpus, idxPrefix, outDir,
        buckets = 4) === 1L)
      assert(archiveRows().count() === 2L &&
        archiveRows().select($"doc_id").distinct().count() === 2L,
        "batch 0 must be archived exactly once across upto=0 and upto=1")

      // CRASH SHAPE 2 — archive write died mid-flight (no _SUCCESS):
      // the partial dir is dropped and its rows re-archived from the
      // still-present batch dirs
      stage(5000003L, 2L, "rc")
      IngestStream.archiveAccepted(spark, outDir,
        IngestStream.batchDirs(spark, outDir), Seq("doc_id", "text"))
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"$outDir/compacted/upto=2/_SUCCESS"), false),
        "test setup: make upto=2 a partial archive")
      stage(5000004L, 3L, "rd")
      assert(IngestStream.compact(spark, corpus, idxPrefix, outDir,
        buckets = 4) === 3L)
      val rows = archiveRows()
      assert(rows.count() === 4L &&
        rows.select($"doc_id").distinct().count() === 4L,
        "all four accepted rows, each exactly once")
      assert(IngestStream.accepted(spark, outDir).isEmpty)
      // the rebuilt index catches every archived generation
      val gen = IngestStream.applyBatch(spark,
        Seq((5000011L, synthText("ra")), (5000012L, synthText("rb")),
          (5000013L, synthText("rc")), (5000014L, synthText("rd")),
          (5000015L, synthText("re"))).toDF("doc_id", "text"),
        None, idxPrefix, "doc_id", "text", 3, 0.5)
      assert(gen.select($"doc_id").collect().map(_.getLong(0)).toSet
        === Set(5000015L))
    } finally {
      (Seq("") ++ (1 to 2).map(v => s"_ixv$v")).foreach { v =>
        Seq("df", "prefix", "shingles").foreach { s =>
          Bucketed.dropBucketed(spark, s"$idxPrefix$v" + s"_$s")
        }
      }
      IndexVersions.clearPointer(spark, root)
    }
  }

  test("ingest -> serialization loop: accepted batches append to the " +
      "shard layout; duplicate re-arrivals never double-serialize; " +
      "an all-dup batch appends nothing") {
    import graft.operators.{Bucketed, Dedup, IndexVersions, Shards}
    import graft.streaming.IngestStream
    import org.apache.spark.sql.functions.{length, sum}
    val corpus = Tables(spark, sf001, "documents")
      .filter(pmod($"doc_id", lit(10)) =!= 0)
      .select($"doc_id", $"text")
    val idxPrefix = "loop_ser_idx"
    val shardDir = tmpDir("loop-shards")
    def synthText(stem: String): String =
      (0 until 20).map(i => s"wqx$stem$i").mkString(" ")
    try {
      Dedup.writeNgramIndexBucketed(corpus, idxPrefix, "doc_id", "text",
        buckets = 4)
      val baseMan = Shards.writeShards(corpus, shardDir, "doc_id",
        length($"text"), shardMass = 20000L, buckets = 8)
      val baseDocs = baseMan.agg(sum($"docs")).head().getLong(0)
      val corpusText = corpus.select($"text").head().getString(0)

      // batch 1: one fresh doc + one corpus dup -> only the fresh doc
      // survives the dedup stages, and only it gets serialized
      val b1 = IngestStream.applyBatch(spark,
        Seq((7000001L, synthText("la")), (7000002L, corpusText))
          .toDF("doc_id", "text"),
        None, idxPrefix, "doc_id", "text", 3, 0.5)
      val man1 = Shards.appendShards(b1, shardDir, "doc_id",
        length($"text"), shardMass = 20000L, buckets = 8)
      assert(man1.agg(sum($"docs")).head().getLong(0) === baseDocs + 1L)

      // batch 2 re-delivers the ACCEPTED doc -> the accepted-set probe
      // drops it, the appender sees an empty batch and must be a no-op
      val b2 = IngestStream.applyBatch(spark,
        Seq((7000003L, synthText("la"))).toDF("doc_id", "text"),
        Some(b1), idxPrefix, "doc_id", "text", 3, 0.5)
      assert(b2.isEmpty, "re-arrival of an accepted doc must be dropped")
      val man2 = Shards.appendShards(b2, shardDir, "doc_id",
        length($"text"), shardMass = 20000L, buckets = 8)
      assert(man2.agg(sum($"docs")).head().getLong(0) === baseDocs + 1L,
        "an all-dup batch must serialize nothing")
      assert(man2.count() === man1.count(),
        "an empty append must not create shards")

      // MID-STREAM COMPACTION: more small arrivals accumulate tiny
      // tail shards; compacting folds them without stopping the loop —
      // corpus totals preserved, and the next arrival appends against
      // the compacted manifest seamlessly
      (0 until 3).foreach { k =>
        val bk = IngestStream.applyBatch(spark,
          Seq((7100001L + k * 10, synthText(s"m$k")),
            (7100002L + k * 10, synthText(s"n$k")))
            .toDF("doc_id", "text"),
          None, idxPrefix, "doc_id", "text", 3, 0.5)
        Shards.appendShards(bk, shardDir, "doc_id",
          length($"text"), shardMass = 20000L, buckets = 8): Unit
      }
      val manPre = Shards.readManifest(spark, shardDir)
      val preDocs = manPre.agg(sum($"docs")).head().getLong(0)
      val preShards = manPre.count()
      assert(preDocs === baseDocs + 7L)
      val manC = Shards.compactShards(spark, shardDir, "doc_id", 20000L)
      assert(manC.agg(sum($"docs")).head().getLong(0) === preDocs,
        "mid-stream compaction must not lose or duplicate documents")
      assert(manC.count() < preShards,
        "compaction must shrink the small tail")
      // loop continues: next accepted batch appends above the
      // compacted numbering, integrity holds end-to-end
      val b3 = IngestStream.applyBatch(spark,
        Seq((7200001L, synthText("post"))).toDF("doc_id", "text"),
        None, idxPrefix, "doc_id", "text", 3, 0.5)
      val man3 = Shards.appendShards(b3, shardDir, "doc_id",
        length($"text"), shardMass = 20000L, buckets = 8)
      assert(man3.agg(sum($"docs")).head().getLong(0) === preDocs + 1L)
      assert(Shards.readCorpus(spark, shardDir).count() === preDocs + 1L)
    } finally {
      Seq("df", "prefix", "shingles").foreach { s =>
        Bucketed.dropBucketed(spark, s"${idxPrefix}_$s")
      }
      IndexVersions.clearPointer(spark,
        IndexVersions.tableRoot(spark, idxPrefix))
    }
  }

  test("pointer commit is object-store-safe: the monotonic marker " +
      "resolves the committed version through the rename window; " +
      "rollback retracts markers") {
    import graft.operators.IndexVersions
    val root = tmpDir("ixv-marker-root")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexVersions.commit(spark, root, 1)
    assert(IndexVersions.currentVersion(spark, root) === Some(1))
    IndexVersions.commit(spark, root, 2)
    assert(IndexVersions.currentVersion(spark, root) === Some(2))
    // the S3 rename window: pointer file briefly ABSENT mid-flip — the
    // marker must keep resolution on the committed version, never let
    // a reader fall back to generation zero
    assert(fs.delete(new org.apache.hadoop.fs.Path(root,
      IndexVersions.PointerFile), false))
    assert(IndexVersions.currentVersion(spark, root) === Some(2),
      "resolution must survive the pointer-rename window via the marker")
    // a stale LOWER pointer alone cannot move the index backwards
    // (max-resolution); going back is an explicit rollback that
    // retracts the higher marker first
    IndexVersions.rollbackTo(spark, root, 1)
    assert(IndexVersions.currentVersion(spark, root) === Some(1))
    IndexVersions.rollbackTo(spark, root, 0)
    assert(IndexVersions.currentVersion(spark, root).isEmpty,
      "rollback to generation zero clears pointer and markers")
  }

  test("media ingest stream: within-batch sha256 + vs-phash-index + " +
      "vs-accepted perceptual dedup == the sequential batch replay; " +
      "compaction folds accepted media into index generation 2") {
    import graft.operators.Multimodal
    import graft.streaming.{IngestStream, MediaIngestStream}
    // deterministic synthetic payloads: per-stem seeded random bytes
    // (two stems land ~32 bits apart — far beyond maxDist 8), and a
    // "transcode" of a payload flips ONE byte (a handful of block-mean
    // bits at most — the perturbation class the perceptual stage owns)
    def payload(stem: String): Array[Byte] = {
      val b = new Array[Byte](256)
      new scala.util.Random(stem.hashCode.toLong).nextBytes(b)
      b
    }
    def transcode(p: Array[Byte]): Array[Byte] = {
      val c = p.clone(); c(0) = (c(0) + 1).toByte; c
    }
    val corpus = (1L to 20L).map(i => (i, payload(s"c$i")))
      .toDF("media_id", "content")
    val table = "media_ingest_test_idx"
    try {
      MediaIngestStream.dropPhashIndex(spark, table)
      Multimodal.writePhashIndex(corpus, table, buckets = 4, bands = 4)
      val a = payload("malpha"); val b = payload("mbeta")
      val srcDir = tmpDir("mingest-src")
      val f1 = Seq(
        (1000001L, a),                       // fresh -> accepted
        (1000002L, transcode(payload("c5"))), // transcode of corpus -> dropped
        (1000003L, b), (1000004L, b)          // exact pair -> min id kept
      ).toDF("media_id", "content")
      val f2 = Seq(
        (1000005L, transcode(a)),  // transcode of batch-1 acceptance ->
                                   // only the accepted probe catches it
        (1000006L, payload("mgamma")) // fresh -> accepted
      ).toDF("media_id", "content")
      f1.coalesce(1).write.parquet(s"$srcDir/f1")
      f2.coalesce(1).write.parquet(s"$srcDir/f2")
      def promote(sub: String, age: Long): Unit = {
        val part = new java.io.File(s"$srcDir/$sub").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(s"$srcDir/$sub.parquet")
        assert(part.renameTo(dst))
        assert(dst.setLastModified(System.currentTimeMillis() - age))
        new java.io.File(s"$srcDir/$sub").listFiles().foreach(_.delete())
        new java.io.File(s"$srcDir/$sub").delete(): Unit
      }
      promote("f1", 60000); promote("f2", 30000)

      val outDir = tmpDir("mingest-out")
      val ckptDir = tmpDir("mingest-ckpt")
      MediaIngestStream.run(spark, srcDir, table, outDir = outDir,
        checkpointDir = ckptDir, maxFilesPerTrigger = 1)
      val got = MediaIngestStream.accepted(spark, outDir).get
        .select($"media_id").collect().map(_.getLong(0)).toSet
      assert(got === Set(1000001L, 1000003L, 1000006L),
        s"accepted set diverged: $got")
      // stream run == sequential applyBatch replay
      val r1 = MediaIngestStream.applyBatch(spark,
        spark.read.parquet(s"$srcDir/f1.parquet"), None, table)
      val r2 = MediaIngestStream.applyBatch(spark,
        spark.read.parquet(s"$srcDir/f2.parquet"), Some(r1), table)
      val replay = (r1.select($"media_id").collect() ++
        r2.select($"media_id").collect()).map(_.getLong(0)).toSet
      assert(replay === got)

      // fresh-checkpoint restart over a non-empty outDir is refused
      val guard = intercept[IllegalArgumentException] {
        MediaIngestStream.run(spark, srcDir, table, outDir = outDir,
          checkpointDir = tmpDir("mingest-ckpt-fresh"),
          maxFilesPerTrigger = 1)
      }
      assert(guard.getMessage.contains("next batch id"))

      // COMPACTION: fold accepted media into index GENERATION 2
      // through the version pointer; stage 3 restarts empty
      val folded = MediaIngestStream.compact(spark, corpus, table, outDir)
      assert(folded >= 0L)
      assert(MediaIngestStream.accepted(spark, outDir).isEmpty,
        "accepted-set probe must be empty after compaction")
      assert(Multimodal.resolvePhashTable(spark, table) === s"${table}_ixv1",
        "probe resolution must land on the committed generation")
      val archived = spark.read.parquet(s"$outDir/compacted")
        .select($"media_id").collect().map(_.getLong(0)).toSet
      assert(archived === got)
      // a transcode of a PRE-compaction acceptance is caught by the
      // rebuilt INDEX alone (applyBatch with NO accepted set)
      val f3 = Seq(
        (1000007L, transcode(a)),    // transcode of folded acceptance
        (1000008L, payload("mdelta")) // fresh -> accepted
      ).toDF("media_id", "content")
      val r3 = MediaIngestStream.applyBatch(spark, f3, None, table)
      assert(r3.select($"media_id").collect().map(_.getLong(0)).toSet ===
        Set(1000008L), "rebuilt index must catch the compacted transcode")
      // and through the ENGINE: resume with the ORIGINAL checkpoint
      f3.coalesce(1).write.parquet(s"$srcDir/f3")
      promote("f3", 1000)
      MediaIngestStream.run(spark, srcDir, table, outDir = outDir,
        checkpointDir = ckptDir, maxFilesPerTrigger = 1)
      val got3 = MediaIngestStream.accepted(spark, outDir).get
        .select($"media_id").collect().map(_.getLong(0)).toSet
      assert(got3 === Set(1000008L), s"post-compaction ingest: $got3")
    } finally MediaIngestStream.dropPhashIndex(spark, table)
  }

  test("media within-batch PERCEPTUAL resolution (opt-in stage 1.5): " +
      "min-id keeper per transcode cluster; default keeps near twins") {
    import graft.operators.Multimodal
    import graft.streaming.MediaIngestStream
    def payload(stem: String): Array[Byte] = {
      val b = new Array[Byte](256)
      new scala.util.Random(stem.hashCode.toLong).nextBytes(b)
      b
    }
    val corpus = (1L to 20L).map(i => (i, payload(s"n$i")))
      .toDF("media_id", "content")
    val table = "media_near15_test_idx"
    try {
      MediaIngestStream.dropPhashIndex(spark, table)
      Multimodal.writePhashIndex(corpus, table, buckets = 4, bands = 4)
      val a = payload("nalpha")
      val aNear = a.clone(); aNear(0) = (aNear(0) + 1).toByte
      val batch = Seq((5000001L, a), (5000002L, aNear),
        (5000003L, payload("nbeta"))).toDF("media_id", "content")
      // default: byte-exact-only stage 1 keeps BOTH transcode twins
      val noOpt = MediaIngestStream.applyBatch(spark, batch, None, table)
      assert(noOpt.select($"media_id").collect().map(_.getLong(0)).toSet
        === Set(5000001L, 5000002L, 5000003L))
      // opted in: the cluster collapses to its min id
      val opt = MediaIngestStream.applyBatch(spark, batch, None, table,
        nearWithinBatch = true)
      assert(opt.select($"media_id").collect().map(_.getLong(0)).toSet
        === Set(5000001L, 5000003L))
    } finally MediaIngestStream.dropPhashIndex(spark, table)
  }
}
