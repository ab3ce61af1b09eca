package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed in partition-local batches.
  *
  * The actual media codecs are NOT in this container, so [[StubDecoder]]
  * is a clearly-marked deterministic stand-in — but everything Spark-side
  * is real and tested: the schema contract, the typed Dataset plumbing,
  * the `mapPartitions` batch shape (decode amortized per-batch, not
  * per-row), and the frame-sampling expansion. Swapping in a real decoder
  * means implementing [[MediaDecoder.decode]] only.
  *
  * Scale notes: binary payloads ride the scan — no shuffle is introduced
  * by decode (narrow mapPartitions); frame sampling uses a generator
  * (explode) so output partitioning inherits the input; reading real data
  * would set `spark.sql.files.maxPartitionBytes` low enough that a
  * partition of blobs fits executor memory.
  */
object Multimodal {

  /** One media object: opaque payload + declared kind/format. */
  final case class MediaRecord(media_id: Long, kind: String, format: String,
      content: Array[Byte])

  /** Decoded (or probed) technical metadata. */
  final case class MediaMeta(media_id: Long, kind: String, format: String,
      byte_len: Long, sha256: String, width: Int, height: Int,
      duration_ms: Long, sample_rate: Int)

  /** The decode seam. A real implementation would wrap e.g. javacv /
    * a JNI codec; batchHint lets implementations amortize codec init.
    */
  trait MediaDecoder extends Serializable {
    def decode(r: MediaRecord): MediaMeta
  }

  /** STUB — deterministic fake decoder (no media libs in this
    * container). Derives plausible metadata purely from the payload
    * bytes (sha256-seeded, chosen because the DuckDB oracle can
    * replicate it — sha1 isn't available there), so tests are stable,
    * the full pipeline runs end-to-end, AND the driver gate checks the
    * whole decode path against independent SQL.
    */
  object StubDecoder extends MediaDecoder {
    override def decode(r: MediaRecord): MediaMeta = {
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(r.content)
      val shaHex = sha.map("%02x".format(_)).mkString
      val h = java.nio.ByteBuffer.wrap(sha, 0, 8).getLong
      val (w, ht, dur, sr) = r.kind match {
        case "image" => (640 + (Math.floorMod(h, 8L) * 160).toInt,
          360 + (Math.floorMod(h >> 8, 8L) * 90).toInt, 0L, 0)
        case "audio" => (0, 0, 1000L + Math.floorMod(h, 600000L), 16000)
        case "video" => (1280, 720, 1000L + Math.floorMod(h, 3600000L), 0)
        case _       => (0, 0, 0L, 0)
      }
      MediaMeta(r.media_id, r.kind, r.format, r.content.length.toLong,
        shaHex, w, ht, dur, sr)
    }
  }

  /** Demo media table derived deterministically from `documents` (text
    * bytes as payload) — exercises the binary-column path without real
    * media files.
    */
  def demoMediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(lit(Array("image", "audio", "video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      element_at(lit(Array("png", "wav", "mp4")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("format"),
      col("text").cast("binary").as("content"))

  /** Decode metadata in partition-local batches (the mapInPandas shape,
    * Scala-typed): no shuffle, decoder amortized per partition.
    */
  def decodeMeta(media: DataFrame, decoder: MediaDecoder = StubDecoder): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it => it.map(decoder.decode) }
  }

  /** Frame-sampling plan: for video rows, emit (media_id, frame_idx,
    * frame_ts_ms) at `fps` frames/sec from decoded duration — a
    * generator, no shuffle. Decode of the frame pixels themselves is the
    * stubbed seam.
    */
  def sampleFrames(meta: Dataset[MediaMeta], fps: Double): DataFrame = {
    val stepMs = math.max(1L, (1000.0 / fps).toLong)
    meta.toDF()
      .filter(col("kind") === "video" && col("duration_ms") > 0)
      .select(col("media_id"), col("duration_ms"),
        explode(sequence(lit(0L), expr(s"(duration_ms - 1) div $stepMs"))).as("frame_idx"))
      .select(col("media_id"), col("frame_idx"),
        (col("frame_idx") * stepMs).as("frame_ts_ms"))
  }

  /** Demo media for the PERCEPTUAL near-dup path: every document's
    * payload plus, for doc_id ≡ 0 (mod 7), a transcode-style replica
    * (one leading byte rewritten, media_id offset by 10_000_000) — the
    * perturbation class that defeats the byte-exact sha256 dedup
    * ([[demoMediaFromDocuments]] + `mm_dedup`) but that a perceptual
    * signature must still catch.
    */
  def demoPerturbedMedia(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("content"))
      .unionByName(docs
        .filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + lit(10000000L)).as("media_id"),
          concat(lit("Z"), expr("substring(text, 2)"))
            .cast("binary").as("content")))

  /** Per-asset perceptual signature over the decode seam's sample
    * stream ([[graft.functions.MediaOps.blockHash64]] — 64-bit
    * blockhash, exact integer arithmetic, codegen'd). A real decoder
    * feeds luma/PCM samples to the SAME kernel; the stub pixel model
    * is the payload bytes. Narrow (no shuffle) — the signature rides
    * the scan like the metadata decode.
    */
  def perceptualSig(media: DataFrame): DataFrame =
    media.select(col("media_id"),
      graft.functions.MediaExprs.blockHash64(col("content")).as("phash"))

  /** Perceptual near-duplicate pairs by banded Hamming LSH over the
    * blockhash signatures — the same candidate-generation shape as
    * [[Dedup.embeddingNearDupPairs]]/the sign index: split the 64-bit
    * signature into `bands` equal keys, equi-join per band (pairs
    * agreeing on ≥1 band), then verify the FULL Hamming distance with
    * one codegen'd `bit_count(xor)` per candidate. Pigeonhole: a pair
    * within `64/bands − 1` flipped bits per band boundary — in
    * particular any pair with dist < bands — is guaranteed a clean
    * band; beyond that recall decays gracefully (measured: all planted
    * single-byte transcodes at dist ≤ 4 surface with 4 bands).
    *
    * 100 TB shape: candidates come from 2^(64/bands)-ary hash buckets,
    * never an all-pairs product — with the default 4 bands the
    * per-band key space is 65536; for corpora ≫ 2^16 assets drop to
    * `bands = 2` (32-bit keys, tight buckets, guaranteed radius 1) or
    * dedup byte-identical payloads first (`mm_dedup`), which collapses
    * the dist-0 mass that dominates bucket occupancy.
    *
    * Output: (id_a, id_b, dist), id_a < id_b, dist ≤ maxDist.
    */
  def perceptualNearDupPairs(sigs: DataFrame, maxDist: Int,
      bands: Int = 4): DataFrame = {
    require(maxDist >= 0 && maxDist <= 64, s"maxDist: $maxDist")
    val banded = bandedKeys(sigs, bands)
    val a = banded.select(col("band"), col("key"),
      col("media_id").as("id_a"), col("phash").as("pa"))
    val b = banded.select(col("band"), col("key"),
      col("media_id").as("id_b"), col("phash").as("pb"))
    // dist ≤ maxDist BEFORE the dedup shuffle: dist is a pure function
    // of the pair, so filtering first is semantically identical and the
    // distinct() only ever shuffles pairs that can survive — in the
    // hot-bucket regime the doc comment warns about, far pairs dominate
    // the candidate mass and would otherwise ride the exchange for free
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("int").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Perceptual near-dup pairs ACROSS two frames — (id_a from `a`,
    * id_b from `b`, dist ≤ maxDist) by the same banded-Hamming
    * candidate generation as [[perceptualNearDupPairs]], restricted to
    * a×b (never a×a or b×b). The accepted-set probe stage of the media
    * ingest stream: `a` is the accepted set, `b` the arriving batch,
    * so the join cost is accepted×batch band keys, not corpus-sized.
    */
  def perceptualNearDupPairsAcross(a: DataFrame, b: DataFrame,
      maxDist: Int, bands: Int = 4): DataFrame = {
    require(maxDist >= 0 && maxDist <= 64, s"maxDist: $maxDist")
    val ka = bandedKeys(perceptualSig(a), bands)
      .select(col("band"), col("key"),
        col("media_id").as("id_a"), col("phash").as("pa"))
    val kb = bandedKeys(perceptualSig(b), bands)
      .select(col("band"), col("key"),
        col("media_id").as("id_b"), col("phash").as("pb"))
    ka.join(kb, Seq("band", "key"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("int").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** (media_id, phash, band, key) — one row per signature band. */
  private def bandedKeys(sigs: DataFrame, bands: Int): DataFrame = {
    require(bands >= 2 && 64 % bands == 0,
      s"bands must divide 64 and be >= 2: $bands")
    val bits = 64 / bands
    val mask = (1L << bits) - 1L
    val keys = (0 until bands).map(i =>
      shiftrightunsigned(col("phash"), i * bits).bitwiseAND(lit(mask)))
    sigs.select(col("media_id"), col("phash"),
      posexplode(array(keys: _*)).as(Seq("band", "key")))
  }

  /** PERSIST the perceptual index: the corpus's banded signature rows,
    * bucketed by band key in the warehouse catalog ([[Bucketed]] —
    * sidecar-carried bucket config, mismatch refusal). Media arrivals
    * then dedup against a 100 TB frozen corpus WITHOUT touching it:
    * [[probePhashIndex]] joins the batch's ≤ bands·|batch| key rows
    * against the bucketed scan — the corpus side never shuffles
    * (Exchange-free by bucketing), the batch side shuffles only
    * itself. The media mirror of the text n-gram / embedding sign
    * indexes; build once, probe per arrival.
    *
    * The BAND count is part of the key layout: a probe banding with a
    * different count computes differently-shaped (band, key) rows and
    * silently finds ~nothing — the same recall-collapse failure mode
    * the `_graft_sign_meta.json` / `_graft_buckets.json` sidecars were
    * built against. So the build records `(bands, kernel)` in a
    * `_graft_phash_meta.json` sidecar inside the table directory and
    * [[probePhashIndex]] self-configures from it (or REFUSES an
    * explicit mismatch). `kernel` names the signature function for
    * forward evolution — a future dHash index must not be probed with
    * blockhash keys either.
    */
  def writePhashIndex(media: DataFrame, table: String, buckets: Int,
      bands: Int = 4): Unit =
    writePhashIndexSigs(perceptualSig(media), table, buckets, bands)

  /** [[writePhashIndex]] from an already-computed (media_id, phash)
    * frame, which is also how [[writeVideoFrameIndex]] writes its
    * per-frame signatures. `kernel` names the signature function the
    * sigs came from; probes declaring a different kernel are refused
    * (an asset-level probe against a frame-level index shares the key
    * SHAPE but none of the semantics — it would "work" and mean
    * nothing). */
  private def writePhashIndexSigs(sigs: DataFrame, table: String,
      buckets: Int, bands: Int, kernel: String = PhashKernel): Unit = {
    Bucketed.writeBucketed(
      bandedKeys(sigs, bands), table, "key", buckets)
    val spark = sigs.sparkSession
    val p = new org.apache.hadoop.fs.Path(tableLocation(spark, table),
      PhashMetaFile)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(
      s"""{"bands":$bands,"kernel":"$kernel"}""".getBytes("UTF-8"))
    finally out.close()
    // a FRESH flat build resets the index to generation zero: a stale
    // version pointer from an earlier compaction would silently shadow
    // the table just written. Cleared LAST — while the write is in
    // flight the stale pointer keeps probes on the committed
    // generation (pointer-flip-last discipline; for a VERSIONED build
    // the compaction passes `<table>_ixvN` whose own root has no
    // pointer, so this is a no-op there)
    IndexVersions.clearPointer(spark, phashIndexRoot(spark, table))
  }

  private val PhashMetaFile = "_graft_phash_meta.json"
  private val PhashKernel = "blockhash64"

  /** The version-pointer root of a phash index: the would-be warehouse
    * directory of `<table>_ixroot` — NEVER a real table, so a flat
    * rebuild of generation zero (whose [[Bucketed.writeBucketed]]
    * deletes the bare table's own directory before writing) cannot
    * wipe the pointer mid-write. The bare-prefix convention of the
    * n-gram index, adapted to an index whose generation zero IS the
    * bare table. */
  def phashIndexRoot(spark: SparkSession, table: String): String =
    IndexVersions.tableRoot(spark, s"${table}_ixroot")

  /** Resolve a phash index name to its committed generation's table —
    * `<table>_ixvN` after a compaction, the bare table before one. */
  def resolvePhashTable(spark: SparkSession, table: String): String =
    IndexVersions.currentVersion(spark, phashIndexRoot(spark, table))
      .map(v => IndexVersions.versionPrefix(table, v)).getOrElse(table)

  private def tableLocation(spark: SparkSession,
      table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        spark.sessionState.sqlParser.parseTableIdentifier(table)))

  /** The (bands, kernel) a [[writePhashIndex]] layout was written with,
    * from its sidecar — None for a pre-sidecar index. `table` may be a
    * COMPACTED index's base name: resolution goes through the
    * [[IndexVersions]] pointer to the committed generation's sidecar,
    * same as the sign-index meta lookup. */
  def phashIndexMeta(spark: SparkSession,
      table: String): Option[(Int, String)] = {
    val p = new org.apache.hadoop.fs.Path(
      tableLocation(spark, resolvePhashTable(spark, table)),
      PhashMetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val re = """"bands":(\d+),"kernel":"([^"]*)"""".r
      re.findFirstMatchIn(txt).map(m => (m.group(1).toInt, m.group(2)))
    }
  }

  /** Probe a [[writePhashIndex]] layout with an arriving batch: every
    * (batch, corpus) pair sharing a band within `maxDist` Hamming —
    * (media_id = the arrival, dup_of = the corpus asset, dist).
    * `bands` ≤ 0 (the default) self-configures from the build's
    * sidecar; an explicit value is validated against it and a mismatch
    * REFUSED — a bands-mismatched probe would band the query
    * signatures into keys the index never wrote and return ~empty
    * instead of erroring.
    *
    * SMALL batches prune the index scan: when the batch's distinct
    * band keys fit `maxKeyLiterals` (the capped-literal contract of
    * the sign-index / n-gram probes), they become an IN filter on the
    * bucket column — Spark's bucket pruning then reads only the
    * matching bucket files and parquet row-group stats skip within
    * them, so an always-on stream probing a 100 TB index with a few
    * hundred arrivals reads a key-proportional slice, not the corpus
    * (measured: the UNPRUNED 20k-batch probe costs 29 s against a
    * 100M-sig index — linear in the corpus — BASELINE.md round-16).
    * Past the cap the unpruned bucketed join wins anyway.
    */
  def probePhashIndex(spark: SparkSession, table: String,
      batch: DataFrame, maxDist: Int, bands: Int = 0,
      maxKeyLiterals: Int = 1024): DataFrame = {
    require(maxDist >= 0 && maxDist <= 64, s"maxDist: $maxDist")
    probeJoin(spark, table, perceptualSig(batch), bands, maxKeyLiterals,
        PhashKernel)
      .select(col("q_id").as("media_id"),
        col("media_id").as("dup_of"),
        bit_count(col("q_phash").bitwiseXOR(col("phash")))
          .cast("int").as("dist"))
      .filter(col("dist") <= maxDist) // before distinct: drop far pairs
      .distinct()                     // ahead of the dedup shuffle
  }

  /** Resolve, validate, prune, and band-join a probe against a
    * persisted signature index — the shared core of the asset probe
    * and the video frame probe. Output: the candidate rows
    * (band, key, media_id, phash, q_id, q_phash), distance NOT yet
    * verified. */
  private def probeJoin(spark: SparkSession, table: String,
      batchSigs: DataFrame, bands: Int, maxKeyLiterals: Int,
      kernel: String): DataFrame = {
    require(maxKeyLiterals >= 0, s"maxKeyLiterals: $maxKeyLiterals")
    // a compacted index resolves through its version pointer to the
    // committed generation's table; an uncompacted one to itself —
    // probes pick up a committed fold with no caller involvement
    val resolved = resolvePhashTable(spark, table)
    require(Bucketed.registerBucketed(spark, resolved, "key"),
      s"no phash index at $table")
    val meta = phashIndexMeta(spark, resolved)
    meta.foreach { case (mb, mk) =>
      require(mk == kernel,
        s"phash index $table was written with kernel `$mk`; this probe " +
          s"computes `$kernel` signatures")
      if (bands > 0) require(mb == bands,
        s"phash index $table was written with $mb bands; probe called " +
          s"with $bands — mismatched banding silently finds nothing")
    }
    val effBands = if (bands > 0) bands
      else meta.map(_._1).getOrElse(throw new IllegalArgumentException(
        s"no $PhashMetaFile under phash index $table — pass bands " +
          "explicitly"))
    val qb = bandedKeys(batchSigs, effBands)
      .withColumnRenamed("media_id", "q_id")
      .withColumnRenamed("phash", "q_phash")
    // bounded collect: distinct probe keys, CAPPED — limit(cap+1)
    // bounds the driver materialization no matter how large the batch
    // is; at or under the cap the IN filter lets Spark prune bucket
    // FILES (the filter is on the bucket column) and row groups
    val keys = qb.select(col("key")).distinct()
      .limit(maxKeyLiterals + 1).collect().map(_.getLong(0))
    val raw = spark.table(resolved)
    val idx =
      if (keys.length <= maxKeyLiterals)
        raw.filter(col("key").isin(keys.toIndexedSeq: _*))
      else raw
    idx.join(qb, Seq("band", "key"))
  }

  /** VIDEO-level perceptual near-dup: two videos are near-duplicates
    * when a large fraction of their FRAMES are near-identical — the
    * actual video-dedup query (a re-encode perturbs every frame a
    * little; a trim/overlay shares most frames exactly). Composition
    * of the gated parts: per-frame blockhash over the decode seam's
    * sample stream (frames = contiguous `frameBytes`-byte segments —
    * a real decoder substitutes decoded frame luma and the rest of
    * the plan is unchanged), DISTINCT frame signatures per video,
    * banded-Hamming frame pairs (never all-pairs — the
    * [[perceptualNearDupPairs]] candidate shape with 2×32-bit keys:
    * frame corpora are ~duration× larger than asset corpora, so the
    * tighter keys matter here), then per-(video, video) containment
    * counted on distinct matched signatures — the
    * [[Decontaminate.overlapPairs]] shape with frames for shingles.
    *
    * Output: (id_a, id_b, matched_a, frames_a, matched_b, frames_b),
    * id_a < id_b, kept when either side's matched fraction reaches
    * `minContainPct` — exact integer cross-multiplication, no float
    * ratio. frames_* count distinct signatures; matched_* count the
    * side's distinct signatures with ≥1 partner within `maxDist`.
    */
  def videoNearDupPairs(media: DataFrame, frameBytes: Int = 64,
      maxDist: Int = 6, bands: Int = 2,
      minContainPct: Int = 50): DataFrame = {
    require(frameBytes >= 1, s"frameBytes: $frameBytes")
    require(maxDist >= 0 && maxDist <= 64, s"maxDist: $maxDist")
    require(minContainPct >= 0 && minContainPct <= 100,
      s"minContainPct: $minContainPct")
    val sigs = frameSigs(media, frameBytes)
    val nf = sigs.groupBy(col("media_id"))
      .agg(count(lit(1)).as("frames"))
    val banded = bandedKeys(sigs, bands)
    val a = banded.select(col("band"), col("key"),
      col("media_id").as("id_a"), col("phash").as("pa"))
    val b = banded.select(col("band"), col("key"),
      col("media_id").as("id_b"), col("phash").as("pb"))
    val matched = a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("pa").bitwiseXOR(col("pb"))) <= maxDist)
      .select(col("id_a"), col("id_b"), col("pa"), col("pb"))
      .distinct()
      .groupBy(col("id_a"), col("id_b"))
      .agg(countDistinct(col("pa")).as("matched_a"),
        countDistinct(col("pb")).as("matched_b"))
    matched
      .join(nf.select(col("media_id").as("id_a"),
        col("frames").as("frames_a")), Seq("id_a"))
      .join(nf.select(col("media_id").as("id_b"),
        col("frames").as("frames_b")), Seq("id_b"))
      .filter(col("matched_a") * 100 >= col("frames_a") * minContainPct ||
        col("matched_b") * 100 >= col("frames_b") * minContainPct)
      .select(col("id_a"), col("id_b"), col("matched_a"),
        col("frames_a"), col("matched_b"), col("frames_b"))
  }

  /** DISTINCT per-video frame signatures: contiguous `frameBytes`-byte
    * segments of the sample stream, each blockhashed — the frame
    * decomposition [[videoNearDupPairs]] and the frame index share.
    * Empty payloads contribute no frames. */
  private def frameSigs(media: DataFrame, frameBytes: Int): DataFrame = {
    require(frameBytes >= 1, s"frameBytes: $frameBytes")
    media.filter(length(col("content")) > 0)
      .select(col("media_id"),
        explode(expr(
          s"transform(sequence(0, int((length(content) - 1) div " +
            s"$frameBytes)), i -> substring(content, " +
            s"i * $frameBytes + 1, $frameBytes))")).as("frame"))
      .select(col("media_id"),
        graft.functions.MediaExprs.blockHash64(col("frame")).as("phash"))
      .distinct()
  }

  private def frameKernel(frameBytes: Int): String =
    s"$PhashKernel-frame$frameBytes"

  /** PERSIST the video catalog's FRAME index: every video's distinct
    * frame signatures, banded and bucketed exactly like the asset
    * index ([[writePhashIndex]]) but under a frame-granularity kernel
    * id — the sidecar refuses an asset-level probe (same key shape,
    * none of the semantics). 2 bands by default: a frame corpus is
    * ~duration× larger than its asset corpus, so the 32-bit keys are
    * the right occupancy from the start. The incremental leg of
    * [[videoNearDupPairs]]: catalog indexed once, every upload asks
    * "is this a re-encode of anything?" without touching the catalog.
    */
  def writeVideoFrameIndex(media: DataFrame, table: String, buckets: Int,
      frameBytes: Int = 64, bands: Int = 2): Unit =
    writePhashIndexSigs(frameSigs(media, frameBytes), table, buckets,
      bands, frameKernel(frameBytes))

  /** Probe a [[writeVideoFrameIndex]] catalog with arriving videos:
    * (media_id = the arrival, dup_of = the catalog video, matched =
    * the arrival's distinct frame signatures with ≥1 catalog partner
    * within `maxDist` in that video, frames = the arrival's distinct
    * signature count), kept when matched reaches `minContainPct` of
    * frames — the [[videoNearDupPairs]] containment rule, computed
    * ARRIVAL-side only (the catalog's per-video frame counts never
    * load). Small batches prune the index scan through the same
    * capped key literals as [[probePhashIndex]]. `frameBytes` must
    * match the build (validated via the kernel id in the sidecar).
    */
  def probeVideoFrameIndex(spark: SparkSession, table: String,
      batch: DataFrame, frameBytes: Int = 64, maxDist: Int = 6,
      minContainPct: Int = 50, bands: Int = 0,
      maxKeyLiterals: Int = 1024): DataFrame = {
    require(maxDist >= 0 && maxDist <= 64, s"maxDist: $maxDist")
    require(minContainPct >= 0 && minContainPct <= 100,
      s"minContainPct: $minContainPct")
    val qsigs = frameSigs(batch, frameBytes)
    val nf = qsigs.groupBy(col("media_id"))
      .agg(count(lit(1)).as("frames"))
    probeJoin(spark, table, qsigs, bands, maxKeyLiterals,
        frameKernel(frameBytes))
      .filter(bit_count(col("q_phash").bitwiseXOR(col("phash")))
        <= maxDist)
      .select(col("q_id"), col("q_phash"), col("media_id").as("dup_of"))
      .distinct()
      .groupBy(col("q_id").as("media_id"), col("dup_of"))
      .agg(countDistinct(col("q_phash")).as("matched"))
      .join(nf, Seq("media_id"))
      .filter(col("matched") * 100 >= col("frames") * minContainPct)
      .select(col("media_id"), col("dup_of"), col("matched"),
        col("frames"))
  }

  /** Resize plan for images: pure metadata transform preserving aspect
    * ratio to fit within (maxW, maxH); the pixel resample is the stubbed
    * seam.
    */
  def resizePlan(meta: Dataset[MediaMeta], maxW: Int, maxH: Int): DataFrame =
    meta.toDF()
      .filter(col("kind") === "image" && col("width") > 0 && col("height") > 0)
      .withColumn("scale",
        least(lit(maxW).cast("double") / col("width"),
          lit(maxH).cast("double") / col("height"), lit(1.0)))
      .select(col("media_id"), col("width"), col("height"),
        floor(col("width") * col("scale")).cast("int").as("out_width"),
        floor(col("height") * col("scale")).cast("int").as("out_height"))
}
