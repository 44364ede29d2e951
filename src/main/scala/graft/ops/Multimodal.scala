package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (north-star extension; SURVEY.md §2.11).
  *
  * Media (image/audio/video) are opaque `BinaryType` columns + typed
  * metadata structs; Parquet carries binary natively, so the storage/
  * partitioning/shuffle story is identical to any other wide column. The
  * actual codec step (JPEG decode, resample, frame-sample) needs native
  * libraries that are NOT in this container, so `decodeStub` below is a
  * clearly-marked deterministic fake; everything around it — schema,
  * batching, partition sizing — is real and tested.
  *
  * 100 TB notes: media rows are wide (MBs); keep
  * `spark.sql.files.maxPartitionBytes` at default 128 MB so tasks hold a
  * handful of blobs, never `collect()` them, and always project metadata
  * columns without the blob when the blob isn't needed (Parquet column
  * pruning makes metadata-only scans cheap).
  */
object Multimodal {

  // ImageIO's default stream cache is DISK-backed: every ImageIO.read /
  // write on a byte stream creates, fills and deletes a temp file. The
  // codec tiers decode tens of thousands of small in-memory blobs per
  // query, so the temp-file round-trip dominates the actual decode.
  // In-memory stream cache instead — pure I/O plumbing, the decoded
  // pixels (and encoded bytes) are unchanged. Runs once per JVM at
  // object init, which every codec path goes through.
  javax.imageio.ImageIO.setUseCache(false)

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))), nullable = true)))

  /** Synthesize a deterministic media table from any id column — used by
    * tests and demos since the testdata has no binary table. Content bytes
    * are a seeded function of the id (sha2 of the id string, repeated).
    */
  def synthesize(spark: SparkSession, ids: DataFrame, idCol: String): DataFrame =
    ids.select(
      col(idCol).cast("long").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol).cast("long"), lit(3)) + 1).cast("int")).as("kind"),
      to_binary(sha2(col(idCol).cast("string"), 256), lit("hex")).as("content"),
      struct(
        (pmod(col(idCol).cast("long"), lit(640)) + 32).cast("int").as("width"),
        (pmod(col(idCol).cast("long"), lit(480)) + 32).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (pmod(col(idCol).cast("long"), lit(60000))).as("duration_ms")).as("meta"))

  /** Real-bytes ingest tier: Spark's `binaryFile` source mapped into the
    * [[mediaSchema]] shape — the path a production pipeline takes when
    * media lands as FILES rather than blob columns. Ids are the
    * portable hash of the file path (stable across re-ingests), kind
    * derives from the extension, codec-derived metadata stays NULL
    * until the (stubbed) decode fills it; `source_path`/`n_bytes` ride
    * alongside for lineage. The binaryFile source prunes `content`
    * when unselected, so metadata-only scans stay cheap exactly like
    * the Parquet-backed [[metadataScan]] tier.
    */
  def ingestBinaryFiles(spark: SparkSession, dir: String,
                        glob: String = "*"): DataFrame = {
    val kinds = Seq("jpg" -> "image", "jpeg" -> "image", "png" -> "image",
      "gif" -> "image", "wav" -> "audio", "mp3" -> "audio",
      "flac" -> "audio", "mp4" -> "video", "mkv" -> "video",
      "webm" -> "video")
    val ext = lower(element_at(split(col("path"), "\\."), -1))
    val kindCol = kinds.foldLeft(lit("unknown"): Column) {
      case (acc, (e, k)) => when(ext === e, lit(k)).otherwise(acc)
    }
    spark.read.format("binaryFile").option("pathGlobFilter", glob)
      .load(dir)
      .select(graft.functions.md5Hash31(col("path")).as("media_id"),
        kindCol.as("kind"),
        col("content"),
        struct(
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("int").as("sample_rate"),
          lit(null).cast("long").as("duration_ms")).as("meta"),
        col("path").as("source_path"),
        col("length").as("n_bytes"))
  }

  /** STUB — the real implementation decodes `content` with a codec library
    * (pillow/ffmpeg-class, unavailable in this container) inside
    * `mapPartitions`, one codec context per partition. The fake emits a
    * deterministic 8-dim "feature" derived from the bytes so downstream
    * plumbing (schema, partitioning, joins onto features) is fully
    * exercisable. Signature and batch shape match the real thing.
    *
    * The fake feature is md5-derived from the blob's hex (portable hash —
    * see `graft.functions.md5Hash31`) so a DuckDB oracle can recompute it
    * exactly (q29): f_i = md5-hash31(hex(content) ‖ i) mod 1000003 ÷ 1000003.
    */
  def decodeStub(media: DataFrame): DataFrame = {
    val hexContent = lower(hex(col("content")))
    val featureAt = (i: Int) =>
      ((graft.functions.md5Hash31(concat(hexContent, lit(i))) % 1000003L)
        .cast("double") / 1000003.0)
    media.select(
      col("media_id"), col("kind"), col("meta"),
      length(col("content")).as("n_bytes"),
      array((0 until 8).map(featureAt): _*).as("features"))
  }

  /** Metadata-only projection — must NOT read the blob column from Parquet
    * (verify with .explain: ReadSchema excludes `content`).
    */
  def metadataScan(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("kind"),
      col("meta.width").as("width"), col("meta.height").as("height"),
      col("meta.duration_ms").as("duration_ms"))

  /** Frame sampling STUB — the real implementation seeks and decodes one
    * frame per sampled timestamp inside `mapPartitions` (one codec
    * context per partition, [[decodePartitionwise]]'s tier). The
    * Spark-side plumbing here is real and total: video rows explode to
    * one row per sampled frame — frame k at ts_ms = floor(k·1000/fps)
    * for every k with ts_ms < duration_ms — and each frame carries a
    * deterministic fake `featureDims`-dim feature. Non-video rows drop
    * before the explode (the kind filter prunes the blob read to videos
    * only).
    *
    * The blob is hashed ONCE per media row to a 60-bit digest
    * (md5Hash60 of the blob hex — O(blob bytes) total per video); each
    * (frame, dim) feature then mixes only the fixed-width decimal digest
    * (digest ‖ '#' ‖ frame_no ‖ ':' ‖ i through md5Hash31), so per-frame
    * work is O(1) in blob size. A SQL oracle recomputes frames AND
    * features exactly via the same two portable-hash steps. (Hashing the
    * full hex per frame×dim was measured 2× slower on 16-byte fixtures
    * and would be O(frames·dims·blob) on real video.)
    *
    * The dynamic frame count guards n < 1 (zero-duration videos):
    * `sequence(0, n-1)` would otherwise COUNT DOWN and fabricate frames.
    */
  def frameSample(media: DataFrame, fps: Double = 1.0,
                  featureDims: Int = 4): DataFrame = {
    require(fps > 0, s"fps must be positive: $fps")
    require(featureDims >= 1, s"featureDims must be >= 1: $featureDims")
    val n = ceil(col("duration_ms") * lit(fps) / lit(1000.0)).cast("int")
    val featureAt = (i: Int) =>
      ((graft.functions.md5Hash31(concat(col("__dg").cast("string"),
        lit("#"), col("frame_no"), lit(":"), lit(i))) % 1000003L)
        .cast("double") / 1000003.0)
    media
      .filter(col("kind") === "video")
      .select(col("media_id"),
        graft.functions.md5Hash60(lower(hex(col("content")))).as("__dg"),
        col("meta.duration_ms").as("duration_ms"))
      .select(col("media_id"), col("__dg"), col("duration_ms"),
        explode(when(n < 1, array().cast("array<int>"))
          .otherwise(sequence(lit(0), n - 1))).as("frame_no"))
      .select(col("media_id"), col("frame_no"),
        floor(col("frame_no") * lit(1000.0) / lit(fps)).cast("bigint")
          .as("ts_ms"),
        array((0 until featureDims).map(featureAt): _*).as("frame_features"))
  }

  /** Resize planning STUB — the real implementation rescales pixels in
    * the codec tier; everything a distributed pipeline needs BEFORE the
    * pixel work is exact and map-only here: the target geometry (longest
    * side capped at `maxSide`, aspect preserved, floor semantics, never
    * below 1 px, only-shrink), the scale factor, and whether the blob
    * needs decoding at all (`needs_resize` — a pipeline skips the codec
    * for in-budget media). Audio/video rows pass through with their
    * geometry untouched (resize is an image concern; width/height of a
    * video frame would go through the same arithmetic per frame).
    */
  def resizePlan(media: DataFrame, maxSide: Int = 256): DataFrame = {
    require(maxSide >= 1, s"maxSide must be >= 1: $maxSide")
    val w = col("meta.width"); val h = col("meta.height")
    val isImage = col("kind") === "image"
    val scale = least(lit(1.0), lit(maxSide).cast("double") /
      greatest(w, h).cast("double"))
    media.select(
      col("media_id"), col("kind"),
      w.as("width"), h.as("height"),
      round(when(isImage, scale).otherwise(lit(1.0)), 6).as("scale"),
      when(isImage, greatest(floor(w * scale).cast("int"), lit(1)))
        .otherwise(w).as("target_width"),
      when(isImage, greatest(floor(h * scale).cast("int"), lit(1)))
        .otherwise(h).as("target_height"),
      (isImage && scale < 1.0).as("needs_resize"))
  }

  case class MediaFeature(media_id: Long, kind: String, n_bytes: Int,
                          features: Array[Double])

  // ------------------------------------------------- real image codec tier

  /** Channel value of the synthetic test pattern at (x, y) for image `id` —
    * the single source of truth shared by the PNG encoder below, the
    * decode round-trip spec, and (re-derived in SQL) the q271 oracle.
    * Plain integer arithmetic so DuckDB reproduces it exactly.
    */
  def synthChannel(id: Long, x: Int, y: Int, channel: Int): Int =
    (channel match {
      case 0 => (id * 7L + x * 31L + y * 17L) % 256L  // R
      case 1 => (id * 3L + x * 13L + y * 29L) % 256L  // G
      case _ => (id * 11L + x * 23L + y * 19L) % 256L // B
    }).toInt

  // public (not private): Janino compiles the generated row encoder
  // against these accessors — a private nested class forces a
  // CompileException + interpreted-mode fallback on every media query
  case class SynthPng(media_id: Long, kind: String,
                              content: Array[Byte], width: Int, height: Int)

  /** REAL PNG synthesis: encodes a deterministic RGB test pattern with
    * `javax.imageio` (JDK-native, zero extra dependencies) per image row.
    * Geometry is id-derived (width = id%13+4, height = id%11+4) so a SQL
    * oracle knows every image's true size; kind follows [[synthesize]]'s
    * id%3 mapping and only image rows carry a blob (audio/video content
    * stays NULL — there is nothing real to encode for them here).
    *
    * `patternMod > 0` derives the PIXEL PATTERN (and geometry) from
    * id % patternMod instead of the id itself, so distinct media rows
    * share byte-identical image content — the duplicate-injection knob
    * the perceptual-dedup queries need (real corpora are full of
    * re-hosted copies of one image under different ids).
    *
    * One `ImageIO`/`BufferedImage` context per partition via
    * mapPartitions (SURVEY §4 tier d — codecs are imperative state).
    */
  def synthesizePng(spark: SparkSession, ids: DataFrame,
                    idCol: String, patternMod: Long = 0L): DataFrame =
    synthesizeImage(spark, ids, idCol, patternMod, "png")

  /** The JPEG twin of [[synthesizePng]]: same pattern, same geometry,
    * encoded with the JDK's JPEG writer. JPEG is LOSSY — decoded pixels
    * are deterministic per JVM but NOT the closed-form pattern, so only
    * geometry and decodability are cross-engine oracle-checkable (the
    * pixel-exact oracles keep their PNG fixtures). What this buys the
    * decode tier: proof that every [[imageQualityRaw]]/[[imageAHash]]/
    * [[decodeResizeImages]] path accepts real JPEG containers — the
    * dominant image format of any web crawl — through the same
    * `ImageIO.read` sniffing, no per-format dispatch.
    */
  def synthesizeJpeg(spark: SparkSession, ids: DataFrame,
                     idCol: String, patternMod: Long = 0L): DataFrame =
    synthesizeImage(spark, ids, idCol, patternMod, "jpg")

  private def synthesizeImage(spark: SparkSession, ids: DataFrame,
                              idCol: String, patternMod: Long,
                              format: String): DataFrame = {
    import spark.implicits._
    require(patternMod >= 0L, s"patternMod must be >= 0: $patternMod")
    val kinds = Seq("image", "audio", "video")
    Spread.spread(ids.select(col(idCol).cast("long"))).as[Long]
      // (spread: a one-row-group id scan is ONE split; without it the
      // whole synthesis+codec chain fused onto it runs on one core)
      .mapPartitions { it =>
        it.map { rowId =>
          val kind = kinds((((rowId % 3) + 3) % 3).toInt)
          val id = if (patternMod > 0) rowId % patternMod else rowId
          val w = (id % 13 + 4).toInt
          val h = (id % 11 + 4).toInt
          val bytes = if (kind != "image") null else {
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                img.setRGB(x, y,
                  (synthChannel(id, x, y, 0) << 16) |
                    (synthChannel(id, x, y, 1) << 8) |
                    synthChannel(id, x, y, 2))
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, format, bos)
            bos.toByteArray
          }
          SynthPng(rowId, kind, bytes, w, h)
        }
      }
      .toDF()
      .select(col("media_id"), col("kind"), col("content"),
        struct(col("width"), col("height"),
          lit(16000).as("sample_rate"),
          lit(null).cast("long").as("duration_ms")).as("meta"))
  }

  /** Test/demo fixture knob: declare a LYING width (+5) in the metadata
    * struct of every `everyNth`-id image, and a LYING duration (+1000 ms)
    * on every `everyNth`-id video — the corrupted-ingest shapes the
    * metadata-vs-decoded-truth audits (q280 images, q293 videos) exist
    * to catch. Content is untouched; only the declaration lies. (The
    * video lie is a no-op on rows whose duration is NULL, so image-only
    * fixtures are unaffected.)
    */
  def withCorruptedMeta(media: DataFrame, everyNth: Long = 7L): DataFrame = {
    require(everyNth > 0, s"everyNth must be > 0: $everyNth")
    val nth = pmod(col("media_id"), lit(everyNth)) === 0
    val lie = nth && col("kind") === "image"
    val lieDur = nth && col("kind") === "video"
    media.select(col("media_id"), col("kind"), col("content"),
      struct(
        when(lie, col("meta.width") + 5).otherwise(col("meta.width"))
          .as("width"),
        col("meta.height").as("height"),
        col("meta.sample_rate").as("sample_rate"),
        when(lieDur, col("meta.duration_ms") + 1000L)
          .otherwise(col("meta.duration_ms")).as("duration_ms")).as("meta"))
  }

  case class DecodedResize(media_id: Long, src_width: Option[Int],
                           src_height: Option[Int],
                           target_width: Option[Int],
                           target_height: Option[Int],
                           r_mean: Option[Double], g_mean: Option[Double],
                           b_mean: Option[Double],
                           pixel_checksum: Option[Long],
                           decode_error: Option[String])

  /** Real decode + resize executor tier: `javax.imageio` PNG decode inside
    * mapPartitions, nearest-neighbor resample to the [[resizePlan]] target
    * geometry, per-image channel means and a position-weighted pixel
    * checksum (Σ (r + 256·g + 65536·b) · (1 + tx + TW·ty) — fits a long:
    * ≤ 1.7e7 · W·H² ≪ 2^63 for any sane thumbnail budget).
    *
    * ONLY `needs_resize` rows reach the codec: the metadata-derived plan
    * filter (image ∧ scale < 1) sits UNDER the mapPartitions, so in-budget
    * blobs are never deserialized — the deserialize-count spec pins this
    * with a codec-side accumulator. Nearest-neighbor uses pure integer
    * arithmetic (sx = tx·W div TW) so an SQL oracle replays the resample
    * bit-exactly; src_width/src_height come from the DECODED image (the
    * codec's truth), not the metadata.
    */
  // ------------------------------------------------- decode quarantine lane

  /** Error-message shape shared by every codec tier: class name + first
    * 200 chars of the message (JVM codec messages can embed whole byte
    * dumps). Deterministic per (JVM, bytes), never used in oracles —
    * oracle queries compare error PRESENCE (the census), not text.
    */
  private def decodeErrMsg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"

  /** Test/demo fixture knob for the quarantine lane: replace the BLOB of
    * every `everyNth`-id media row with deterministic garbage bytes
    * (sha2 of the id — no PNG magic, no RIFF header, undecodable by any
    * codec). The corrupted-crawl shape: on real data some blobs are
    * always truncated/mislabeled/bit-rotted, and a decode tier that
    * hard-crashes on them fails the task 4× and kills the whole job.
    * Metadata and kind are untouched — only the content lies.
    */
  def withCorruptedBlobs(media: DataFrame, everyNth: Long = 5L): DataFrame = {
    require(everyNth > 0, s"everyNth must be > 0: $everyNth")
    val bad = pmod(col("media_id"), lit(everyNth)) === 0 &&
      col("content").isNotNull
    media.select(col("media_id"), col("kind"),
      when(bad, to_binary(sha2(col("media_id").cast("string"), 256),
        lit("hex"))).otherwise(col("content")).as("content"),
      col("meta"))
  }

  /** Bad-row census over any quarantined decode output (a DataFrame
    * carrying a `decode_error` column): total rows, decoded rows, and
    * quarantined rows, optionally per group — the honest-accounting
    * report a 100 TB decode job emits INSTEAD of crashing (the
    * `piiSummary`/`n_null` discipline). `count(decode_error)` counts
    * non-NULLs, so the census is one partial-aggregated pass.
    */
  def decodeCensus(decoded: DataFrame,
                   groupCols: Seq[String] = Nil): DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count(col("decode_error"))).as("n_decoded"),
      count(col("decode_error")).as("n_quarantined"))
    if (groupCols.isEmpty) decoded.agg(aggs.head, aggs.tail: _*)
    else decoded.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  case class AHash(media_id: Long, width: Option[Int], height: Option[Int],
                   ahash_hi: Option[Long], ahash_lo: Option[Long],
                   decode_error: Option[String])

  /** Perceptual average-hash (aHash) over REAL decoded pixels: ImageIO
    * decode, integer nearest-neighbor downsample to the grid (default
    * 8×8), integer grayscale (r+g+b) div 3, then bit p (= ty·grid+tx,
    * row-major) set iff grid²·gray ≥ Σgray — the mean threshold kept in
    * exact integer arithmetic (no float mean) so an SQL oracle replays
    * every bit. The 64 bits pack into TWO 32-bit lanes (hi = bits
    * 63..32, lo = 31..0) exactly like the binary-quant codes — a single
    * BIGINT would need the sign bit. Byte-identical images always
    * collide; small crops/noise land within a few bits, which is the
    * whole point of a perceptual hash (exact dedup misses re-encodes).
    *
    * Scale shape: map-only per image (one decode, O(grid²) resample),
    * never touches non-image rows (the kind filter is metadata-only, so
    * audio/video blobs are pruned before deserialization). Undecodable
    * blobs QUARANTINE (null metrics + `decode_error`) instead of
    * crashing the job — corrupt blobs are a certainty on a real crawl;
    * [[decodeCensus]] reports the bad-row count.
    */
  def imageAHash(media: DataFrame, grid: Int = 8): DataFrame = {
    require(grid >= 2 && grid * grid <= 64,
      s"grid must be in [2, 8] (grid^2 <= 64 bits): $grid")
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "image" && col("content").isNotNull)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            require(img != null, "content is not a decodable image")
            val w = img.getWidth; val h = img.getHeight
            val g = new Array[Long](grid * grid)
            var sum = 0L
            var ty = 0
            while (ty < grid) {
              val sy = ty * h / grid
              var tx = 0
              while (tx < grid) {
                val rgb = img.getRGB(tx * w / grid, sy)
                val gray = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
                  (rgb & 0xff)) / 3
                g(ty * grid + tx) = gray.toLong
                sum += gray
                tx += 1
              }
              ty += 1
            }
            val n = (grid * grid).toLong
            var hi = 0L; var lo = 0L
            var p = 0
            while (p < grid * grid) {
              if (g(p) * n >= sum) {
                if (p >= 32) hi |= 1L << (p - 32) else lo |= 1L << p
              }
              p += 1
            }
            AHash(id, Some(w), Some(h), Some(hi), Some(lo), None)
          } catch { case scala.util.control.NonFatal(e) =>
            AHash(id, None, None, None, None, Some(decodeErrMsg(e)))
          }
        }
      }
      .toDF()
  }

  /** Hamming distance between two (hi, lo) aHash lane pairs. */
  def ahashDistance(hiA: Column, loA: Column,
                    hiB: Column, loB: Column): Column =
    bit_count(hiA.bitwiseXOR(hiB)) + bit_count(loA.bitwiseXOR(loB))

  /** Quantized 1-D DCT-II basis for the 8-point transform:
    * dctBasisQ(u)(x) = round(10⁶·cos(π(2x+1)u/16)). HARDCODED integers —
    * not computed at runtime — so the JVM codec tier and the SQL oracle
    * share the exact same table (no cos() on either side, so last-ulp
    * drift between Java's and DuckDB's libm is impossible; every value
    * sits ≥ 0.03 from a rounding boundary). With 8-bit pixels the
    * 2-D coefficient Σ g·C(u,x)·C(v,y) is bounded by 64·255·10¹² ≈
    * 1.6·10¹⁶ — exact in int64 with headroom.
    */
  private[graft] val dctBasisQ: Array[Array[Long]] = Array(
    Array(1000000L, 1000000L, 1000000L, 1000000L,
      1000000L, 1000000L, 1000000L, 1000000L),
    Array(980785L, 831470L, 555570L, 195090L,
      -195090L, -555570L, -831470L, -980785L),
    Array(923880L, 382683L, -382683L, -923880L,
      -923880L, -382683L, 382683L, 923880L),
    Array(831470L, -195090L, -980785L, -555570L,
      555570L, 980785L, 195090L, -831470L),
    Array(707107L, -707107L, -707107L, 707107L,
      707107L, -707107L, -707107L, 707107L),
    Array(555570L, -980785L, 195090L, 831470L,
      -831470L, -195090L, 980785L, -555570L),
    Array(382683L, -923880L, 923880L, -382683L,
      -382683L, 923880L, -923880L, 382683L),
    Array(195090L, -555570L, 831470L, -980785L,
      980785L, -831470L, 555570L, -195090L))

  case class PHash(media_id: Long, width: Option[Int], height: Option[Int],
                   phash_hi: Option[Long], phash_lo: Option[Long],
                   decode_error: Option[String])

  /** Perceptual DCT hash (pHash) over REAL decoded pixels — the
    * production tier of perceptual image dedup ([[imageAHash]] is the
    * cheap tier). Decode → the SAME integer 8×8 nearest-neighbor
    * grayscale grid as aHash → exact integer 2-D DCT-II against
    * [[dctBasisQ]] → bit p (= v·8+u, row-major over the frequency
    * plane) set iff coefficient(u,v) strictly exceeds the LOWER MEDIAN
    * (32nd smallest, ties irrelevant: the value at a sorted position is
    * order-stable) of the 63 AC coefficients. The DC coefficient (p=0)
    * is excluded from both the median and the bits: uniform brightness
    * lives almost entirely in DC, which is exactly why pHash survives
    * the clipped-brightness shifts that flip aHash's mean-threshold
    * bits (MultimodalSpec pins a +120-clip gradient fixture where aHash
    * drifts 8 bits and pHash 1). Bits pack into two 32-bit lanes like
    * aHash, so [[ahashDistance]], the banded Hamming near-dup join and
    * the persisted q295 index lifecycle all apply unchanged (they are
    * generic over any 64-bit hash in (hi, lo) lanes).
    *
    * Scale shape: map-only per image — one decode, O(64) resample,
    * O(64·64) integer multiply-adds; non-image rows are pruned by the
    * metadata-only kind filter before any deserialization; undecodable
    * blobs quarantine with `decode_error` instead of failing the job.
    * Everything is exact integer arithmetic, so an SQL oracle replays
    * every bit from the synthetic-pattern closed form.
    */
  def imagePHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "image" && col("content").isNotNull)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val basis = dctBasisQ
        rows.map { case (id, bytes) =>
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            require(img != null, "content is not a decodable image")
            val (hi, lo) = phashLanes(img, basis)
            PHash(id, Some(img.getWidth), Some(img.getHeight),
              Some(hi), Some(lo), None)
          } catch { case scala.util.control.NonFatal(e) =>
            PHash(id, None, None, None, None, Some(decodeErrMsg(e)))
          }
        }
      }
      .toDF()
  }

  /** The pHash bit core shared by [[imagePHash]] and the per-frame video
    * tier ([[videoFramePHashes]]): integer 8×8 nearest-neighbor gray
    * grid → exact separable 2-D DCT-II → bit p set iff coefficient(p)
    * strictly exceeds the lower median of the 63 AC coefficients (DC
    * excluded). Returns the (hi, lo) 32-bit lanes.
    */
  private def phashLanes(img: java.awt.image.BufferedImage,
                         basis: Array[Array[Long]]): (Long, Long) = {
    val w = img.getWidth; val h = img.getHeight
    val g = new Array[Long](64)
    var ty = 0
    while (ty < 8) {
      val sy = ty * h / 8
      var tx = 0
      while (tx < 8) {
        val rgb = img.getRGB(tx * w / 8, sy)
        g(ty * 8 + tx) = ((((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff)
          + (rgb & 0xff)) / 3).toLong
        tx += 1
      }
      ty += 1
    }
    // row DCT then column DCT (separable) — exact integers
    val rowT = new Array[Long](64) // rowT(ty*8+u) = Σ_tx g·C(u,tx)
    var r = 0
    while (r < 8) {
      var u = 0
      while (u < 8) {
        var acc = 0L; var x = 0
        while (x < 8) { acc += g(r * 8 + x) * basis(u)(x); x += 1 }
        rowT(r * 8 + u) = acc
        u += 1
      }
      r += 1
    }
    val coef = new Array[Long](64) // coef(v*8+u) = Σ_ty rowT·C(v,ty)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var acc = 0L; var y = 0
        while (y < 8) { acc += rowT(y * 8 + u) * basis(v)(y); y += 1 }
        coef(v * 8 + u) = acc
        u += 1
      }
      v += 1
    }
    val ac = new Array[Long](63)
    System.arraycopy(coef, 1, ac, 0, 63)
    java.util.Arrays.sort(ac)
    val med = ac(31) // lower median of the 63 AC coefficients
    var hi = 0L; var lo = 0L
    var p = 1
    while (p < 64) {
      if (coef(p) > med) {
        if (p >= 32) hi |= 1L << (p - 32) else lo |= 1L << p
      }
      p += 1
    }
    (hi, lo)
  }

  /** pHash-keyed view of [[imagePHash]] output in the (media_id,
    * ahash_hi, ahash_lo) shape every aHash consumer expects — the
    * banded near-dup join, the batch probe and the whole persisted
    * index lifecycle are generic over any 64-bit hash in two lanes, so
    * pHash rides them by column rename alone.
    */
  def phashAsHashRelation(ph: DataFrame): DataFrame =
    ph.filter(col("decode_error").isNull)
      .select(col("media_id"), col("phash_hi").as("ahash_hi"),
        col("phash_lo").as("ahash_lo"))

  case class ImageQualityRaw(media_id: Long, width: Option[Int],
                             height: Option[Int], gray_sum: Option[Long],
                             gray_sq_sum: Option[Long],
                             ent_nano: Option[Long],
                             decode_error: Option[String])

  /** Raw per-image quality statistics over REAL decoded pixels — the
    * codec tier emits EXACT INTEGERS ONLY (Σgray, Σgray², and the
    * nano-snapped Σ c_b·ln(c_b) over a 16-bin gray histogram); every
    * float (mean, variance/contrast, entropy) is derived DOWNSTREAM in
    * the query layer with Spark's own round(), so the cross-engine
    * float discipline stays in one place (the NOTES_r2/r3 recipes) and
    * the codec output is bit-stable by construction. Brightness/contrast
    * /entropy are the standard cheap filters a vision-corpus curation
    * pass runs (drop near-black and near-flat images before the
    * expensive embedding stage).
    */
  def imageQualityRaw(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "image" && col("content").isNotNull)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            require(img != null, "content is not a decodable image")
            val w = img.getWidth; val h = img.getHeight
            var s1 = 0L; var s2 = 0L
            val hist = new Array[Long](16)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                val g = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
                  (rgb & 0xff)) / 3
                s1 += g; s2 += g.toLong * g
                hist(g / 16) += 1
                x += 1
              }
              y += 1
            }
            // Σ c·ln(c) nano-snapped per BIN (order-free integer sum); the
            // entropy H = ln(N) − Σc·ln(c)/N assembles in the query layer
            var ent = 0L
            var b = 0
            while (b < 16) {
              if (hist(b) > 0)
                ent += math.round(hist(b) * math.log(hist(b).toDouble) * 1e9)
              b += 1
            }
            ImageQualityRaw(id, Some(w), Some(h), Some(s1), Some(s2),
              Some(ent), None)
          } catch { case scala.util.control.NonFatal(e) =>
            ImageQualityRaw(id, None, None, None, None, None,
              Some(decodeErrMsg(e)))
          }
        }
      }
      .toDF()
  }

  /** Query-layer contrast (population variance of gray) from
    * [[imageQualityRaw]]'s exact integer moments — computed in DOUBLE
    * from the first product: the BIGINT form `n·Σg² − (Σg)²` ANSI-
    * overflows int64 once n·Σg² > 2⁶³, i.e. at n ≳ 1.2·10⁷ pixels for
    * saturated images (Σg² ≤ 255²·n) — ordinary 12-megapixel
    * photographs. Double costs ulp-level precision instead, identically
    * in any IEEE engine: the oracle replays the same operand order
    * (Σg²·n − Σg·Σg, then the n² divide), so both engines round the
    * same values. n² itself stays exact in int64 (and in double below
    * 2⁵³) up to n ≈ 3·10⁹ pixels.
    */
  def grayContrast(n: Column, graySum: Column, graySqSum: Column): Column =
    (graySqSum.cast("double") * n - graySum.cast("double") * graySum) /
      (n * n).cast("double")

  case class ImageFeatures(media_id: Long, width: Option[Int],
                           height: Option[Int], gray_sum: Option[Long],
                           gray_sq_sum: Option[Long], ent_nano: Option[Long],
                           ahash_hi: Option[Long], ahash_lo: Option[Long],
                           decode_error: Option[String])

  /** Decode-ONCE combined feature tier: one `ImageIO.read` per blob emits
    * BOTH [[imageQualityRaw]]'s exact integer moments (Σg, Σg², the
    * nano-snapped 16-bin Σc·ln c) AND [[imageAHash]]'s two perceptual-hash
    * lanes — per pixel and per grid cell the arithmetic is the SAME
    * statements as the standalone tiers (the aHash grid samples the
    * already-decoded `BufferedImage`, 64 extra `getRGB` calls), so the
    * combined row is bit-identical to the join of the two tiers'
    * outputs (MultimodalSpec pins the equivalence on a corrupt-injected
    * fixture). A multi-consumer pipeline (the q287 curation capstone:
    * quarantine census + brightness gate + perceptual dup collapse)
    * materializes THIS relation once instead of paying the dominant
    * decode cost once per consuming tier — at crawl scale the decode is
    * 10²–10³× the feature arithmetic, so k consumers over a combined
    * decode is a ~k× win on the media family's bottleneck stage.
    * Quarantine discipline identical to the standalone tiers: an
    * undecodable blob is ONE (null metrics, `decode_error`) row serving
    * every consumer.
    */
  def decodeImageFeatures(media: DataFrame, grid: Int = 8): DataFrame = {
    require(grid >= 2 && grid * grid <= 64,
      s"grid must be in [2, 8] (grid^2 <= 64 bits): $grid")
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "image" && col("content").isNotNull)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            require(img != null, "content is not a decodable image")
            val w = img.getWidth; val h = img.getHeight
            // full-pixel walk: imageQualityRaw's statements verbatim
            var s1 = 0L; var s2 = 0L
            val hist = new Array[Long](16)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                val g = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
                  (rgb & 0xff)) / 3
                s1 += g; s2 += g.toLong * g
                hist(g / 16) += 1
                x += 1
              }
              y += 1
            }
            var ent = 0L
            var b = 0
            while (b < 16) {
              if (hist(b) > 0)
                ent += math.round(hist(b) * math.log(hist(b).toDouble) * 1e9)
              b += 1
            }
            // grid sample over the SAME decoded image: imageAHash's
            // statements verbatim
            val cg = new Array[Long](grid * grid)
            var gsum = 0L
            var ty = 0
            while (ty < grid) {
              val sy = ty * h / grid
              var tx = 0
              while (tx < grid) {
                val rgb = img.getRGB(tx * w / grid, sy)
                val gray = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
                  (rgb & 0xff)) / 3
                cg(ty * grid + tx) = gray.toLong
                gsum += gray
                tx += 1
              }
              ty += 1
            }
            val n = (grid * grid).toLong
            var hi = 0L; var lo = 0L
            var p = 0
            while (p < grid * grid) {
              if (cg(p) * n >= gsum) {
                if (p >= 32) hi |= 1L << (p - 32) else lo |= 1L << p
              }
              p += 1
            }
            ImageFeatures(id, Some(w), Some(h), Some(s1), Some(s2),
              Some(ent), Some(hi), Some(lo), None)
          } catch { case scala.util.control.NonFatal(e) =>
            ImageFeatures(id, None, None, None, None, None, None, None,
              Some(decodeErrMsg(e)))
          }
        }
      }
      .toDF()
  }

  def decodeResizeImages(media: DataFrame, maxSide: Int = 256,
                         decodeCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    require(maxSide >= 1, s"maxSide must be >= 1: $maxSide")
    val spark = media.sparkSession
    import spark.implicits._
    val w = col("meta.width"); val h = col("meta.height")
    val scale = least(lit(1.0),
      lit(maxSide).cast("double") / greatest(w, h).cast("double"))
    media
      .filter(col("kind") === "image" && scale < 1.0)
      .select(col("media_id"), col("content"),
        greatest(floor(w * scale).cast("int"), lit(1)).as("tw"),
        greatest(floor(h * scale).cast("int"), lit(1)).as("th"))
      .as[(Long, Array[Byte], Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (id, bytes, tw, th) =>
          decodeCounter.foreach(_.add(1))
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            require(img != null, "content is not a decodable image")
            val sw = img.getWidth; val sh = img.getHeight
            var rSum = 0L; var gSum = 0L; var bSum = 0L; var ck = 0L
            var ty = 0
            while (ty < th) {
              val sy = ty * sh / th
              var tx = 0
              while (tx < tw) {
                val sx = tx * sw / tw
                val rgb = img.getRGB(sx, sy)
                val r = (rgb >> 16) & 0xff
                val g = (rgb >> 8) & 0xff
                val b = rgb & 0xff
                rSum += r; gSum += g; bSum += b
                ck += (r + 256L * g + 65536L * b) * (1L + tx + tw.toLong * ty)
                tx += 1
              }
              ty += 1
            }
            val n = tw.toLong * th
            DecodedResize(id, Some(sw), Some(sh), Some(tw), Some(th),
              Some(rSum.toDouble / n), Some(gSum.toDouble / n),
              Some(bSum.toDouble / n), Some(ck), None)
          } catch { case scala.util.control.NonFatal(e) =>
            DecodedResize(id, None, None, None, None, None, None, None,
              None, Some(decodeErrMsg(e)))
          }
        }
      }
      .toDF()
  }

  /** STUB CODEC — stands in for a native decoder (libjpeg/ffmpeg-class,
    * not available in this container). One instance per partition models
    * the expensive codec-context initialization (here: the MessageDigest);
    * `decode` is a deterministic fake emitting an 8-dim byte-derived
    * feature so the distributed plumbing is fully exercisable.
    *
    * The fake arithmetic is deliberately ORACLE-PORTABLE (q65): a
    * byte-level rolling hash mod 2^31−1 (DuckDB folds the blob's hex
    * pairs), then per-feature md5 of the decimal-rendered hash — the same
    * portable-hash construction as `graft.functions.md5Hash31`.
    */
  final class StubCodec {
    private val md5 = java.security.MessageDigest.getInstance("MD5")

    def decode(bytes: Array[Byte]): Array[Double] = {
      val out = new Array[Double](8)
      if (bytes != null) {
        val P = 2147483647L
        var h = 0L // rolling hash over UNSIGNED bytes, mod 2^31-1
        var i = 0
        while (i < bytes.length) { h = (31 * h + (bytes(i) & 0xff)) % P; i += 1 }
        var j = 0
        while (j < 8) {
          md5.reset()
          val hex = md5.digest(s"${h}_$j".getBytes("UTF-8"))
            .take(4).map(b => f"${b & 0xff}%02x").mkString
          out(j) = ((java.lang.Long.parseLong(hex, 16) % P) % 1000003L)
            .toDouble / 1000003.0
          j += 1
        }
      }
      out
    }
  }

  // -------------------------------------------------- real audio codec tier

  /** Sample i of the synthetic 16-bit PCM test signal for audio `id` —
    * the single source of truth shared by the WAV encoder, the decode
    * round-trip spec, and (re-derived in SQL) the audio-features oracle.
    * Values in [-1000, 1000]; plain integer arithmetic.
    */
  def synthSample(id: Long, i: Int): Int =
    ((id * 31L + i * 17L) % 2001L - 1000L).toInt

  // public (not private): Janino compiles the generated row encoder
  // against these accessors — a private nested class forces a
  // CompileException + interpreted-mode fallback on every media query
  case class SynthWav(media_id: Long, kind: String,
                              content: Array[Byte], n_samples: Int)

  case class AudioFingerprint(media_id: Long, n_samples: Option[Long],
                              fingerprint: Option[Long],
                              decode_error: Option[String])

  /** Chromaprint-shaped audio fingerprint over REAL decoded PCM: split
    * the sample stream into `windows` equal spans (sample i lands in
    * window i·W div n — exact integer banding), take each window's
    * Σ|s| energy, and set bit w−1 iff window w's energy exceeds window
    * w−1's. Energy DELTAS, not absolute energies, so the fingerprint is
    * volume-invariant the way perceptual audio hashes are; byte-identical
    * audio always collides. W−1 ≤ 63 keeps the pack in a signed long.
    * Map-only per audio row; non-audio blobs never deserialize.
    *
    * Clips SHORTER than `windows` samples quarantine rather than
    * fingerprint: with empty windows the energy-delta chain would
    * compare zero-filled buckets that a populated-windows oracle never
    * sees (ADVICE r11's latent drift) — "too short to fingerprint" is a
    * data-quality fact the census should surface, not a silent hash.
    * Undecodable/non-PCM blobs quarantine the same way.
    */
  def audioFingerprint(media: DataFrame, windows: Int = 16): DataFrame = {
    require(windows >= 2 && windows <= 64,
      s"windows must be in [2, 64]: $windows")
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "audio" && col("content").isNotNull)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            require(ais.getFormat.getSampleSizeInBits == 16 &&
              ais.getFormat.getChannels == 1, "expected 16-bit mono PCM")
            val raw = ais.readAllBytes()
            val n = raw.length / 2
            if (n < windows) throw new IllegalArgumentException(
              s"audio too short to fingerprint: n_samples=$n < windows=$windows")
            val energy = new Array[Long](windows)
            var i = 0
            while (i < n) {
              val s = (raw(2 * i + 1).toInt << 8) | (raw(2 * i) & 0xff)
              energy((i.toLong * windows / n).toInt) += math.abs(s)
              i += 1
            }
            var fp = 0L
            var w = 1
            while (w < windows) {
              if (energy(w) > energy(w - 1)) fp |= 1L << (w - 1)
              w += 1
            }
            AudioFingerprint(id, Some(n.toLong), Some(fp), None)
          } catch { case scala.util.control.NonFatal(e) =>
            AudioFingerprint(id, None, None, Some(decodeErrMsg(e)))
          }
        }
      }
      .toDF()
  }

  case class AudioSpectralFp(media_id: Long, n_samples: Option[Long],
                             spectral_fp: Option[Long],
                             decode_error: Option[String])

  /** Robust SPECTRAL audio fingerprint over REAL decoded PCM — the
    * frequency-domain sibling of [[audioFingerprint]] (whose time-window
    * energy deltas are blind to frequency content: a constant tone and
    * an alternating square wave with equal per-window Σ|s| collide
    * there; MultimodalSpec pins exactly that pair apart here). Band
    * analysis uses WALSH (square-wave / sequency) correlations instead
    * of a DFT: band b correlates the signal with the ±1 square wave
    * holding 2^(b+1) half-periods over the clip
    * (sign_b(i) = +1 iff (i·2^(b+1)) div n is even), so
    * X_b = Σ_i s_i·sign_b(i) is EXACT int64 — a cosine basis would need
    * runtime cos() on both engines, whose micro-unit rounding can drift
    * in the last ulp (the hardcoded-table trick that saved pHash cannot
    * cover every clip length n). Sequency analysis is the classical
    * integer-exact spectral decomposition (Walsh–Hadamard family), and
    * the fingerprint only needs a stable spectral SHAPE, not Fourier
    * coefficients.
    *
    * Bit b−1 is set iff |X_b| > |X_{b−1}| — the same adjacent-delta
    * coding as the time-domain tier, which makes the hash
    * VOLUME-INVARIANT (scaling all samples by α > 0 scales every |X_b|
    * together and preserves strict comparisons — pinned in
    * MultimodalSpec with a re-encoded 3× clip whose bytes and exact
    * fingerprint both change while this hash holds). Short/undecodable
    * clips quarantine exactly like [[audioFingerprint]].
    */
  def audioSequencyFingerprint(media: DataFrame,
                               bands: Int = 16): DataFrame = {
    require(bands >= 2 && bands <= 64, s"bands must be in [2, 64]: $bands")
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "audio" && col("content").isNotNull)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            require(ais.getFormat.getSampleSizeInBits == 16 &&
              ais.getFormat.getChannels == 1, "expected 16-bit mono PCM")
            val raw = ais.readAllBytes()
            val n = raw.length / 2
            if (n < bands) throw new IllegalArgumentException(
              s"audio too short to fingerprint: n_samples=$n < bands=$bands")
            val x = new Array[Long](bands)
            var i = 0
            while (i < n) {
              val s = ((raw(2 * i + 1).toInt << 8) |
                (raw(2 * i) & 0xff)).toLong
              var b = 0
              while (b < bands) {
                val sign = if ((i.toLong * (1L << (b + 1)) / n) % 2 == 0) 1L
                  else -1L
                x(b) += s * sign
                b += 1
              }
              i += 1
            }
            var fp = 0L
            var b = 1
            while (b < bands) {
              if (math.abs(x(b)) > math.abs(x(b - 1))) fp |= 1L << (b - 1)
              b += 1
            }
            AudioSpectralFp(id, Some(n.toLong), Some(fp), None)
          } catch { case scala.util.control.NonFatal(e) =>
            AudioSpectralFp(id, None, None, Some(decodeErrMsg(e)))
          }
        }
      }
      .toDF()
  }

  /** REAL WAV synthesis: encodes the deterministic PCM test signal with
    * `javax.sound.sampled` (JDK-native RIFF/WAVE writer, zero extra
    * dependencies) — 16-bit signed little-endian mono at 16 kHz,
    * n = id%50+20 samples. Kind follows [[synthesize]]'s id%3 mapping
    * and only AUDIO rows carry a blob. The image twin is
    * [[synthesizePng]]; together they make the media fixtures real
    * container bytes end to end.
    */
  def synthesizeWav(spark: SparkSession, ids: DataFrame,
                    idCol: String, patternMod: Long = 0L): DataFrame = {
    import spark.implicits._
    require(patternMod >= 0L, s"patternMod must be >= 0: $patternMod")
    val kinds = Seq("image", "audio", "video")
    // NO Spread here (r17, unlike the image/video synths): WAV synthesis
    // is a trivial per-row cost — a few hundred PCM bytes, no codec work —
    // so the round-robin exchange costs more than the parallelism buys
    // (r16 driver lane: all six audio queries regressed 0.5-0.65× with
    // it). Multi-split production inputs parallelize at the scan anyway.
    ids.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1,
          true, false) // signed 16-bit LE mono — one codec ctx/partition
        it.map { rowId =>
          val kind = kinds((((rowId % 3) + 3) % 3).toInt)
          // patternMod > 0: the SIGNAL derives from rowId % patternMod so
          // distinct media ids carry byte-identical audio (the re-upload
          // duplicate shape), mirroring synthesizePng's knob
          val id = if (patternMod > 0) rowId % patternMod else rowId
          val n = (((id % 50) + 50) % 50 + 20).toInt
          val bytes = if (kind != "audio") null else {
            val pcm = new Array[Byte](n * 2)
            var i = 0
            while (i < n) {
              val s = synthSample(id, i)
              pcm(2 * i) = (s & 0xff).toByte
              pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
              i += 1
            }
            val ais = new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
            val bos = new java.io.ByteArrayOutputStream()
            javax.sound.sampled.AudioSystem.write(ais,
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            bos.toByteArray
          }
          SynthWav(rowId, kind, bytes, if (bytes == null) 0 else n)
        }
      }
      .toDF()
      .select(col("media_id"), col("kind"), col("content"),
        struct(lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(16000).as("sample_rate"),
          (col("n_samples").cast("long") * 1000L / 16000L)
            .as("duration_ms")).as("meta"))
  }

  // ------------------------------------ trim-robust WINDOWED audio tier

  /** splitmix64-style finalizer: the avalanche mix behind both the
    * window content hash and the non-additive synth sample family.
    * Public for the same Janino-codegen reason as the Synth* case
    * classes (row encoders compile against enclosing-object accessors).
    */
  def mix64(z0: Long): Long = {
    var z = z0
    z ^= z >>> 33; z *= 0xff51afd7ed558ccdL
    z ^= z >>> 29; z *= 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 32)
  }

  /** Sample i of the NON-ADDITIVE synthetic PCM family for audio `id`
    * — hash-mixed, so unlike [[synthSample]] (an arithmetic progression
    * with the SAME step 17 mod 2001 for every clip) no two clips share
    * a run of samples. The additive family is degenerate for windowed
    * identity: clip windows are equal whenever 31·Δid ≡ 17·Δoffset
    * (mod 2001) — e.g. clips id and id+2001 carry byte-identical
    * aligned windows — which poisons any cross-clip-silence oracle the
    * moment ids span 2001 (they do at sf0.1). Mixing kills the
    * structure; window equality across distinct (id, offset) is a
    * 256-bit-content collision, i.e. never for a fixed deterministic
    * fixture (validated at all three SFs).
    */
  def mixedSample(id: Long, i: Int): Int =
    (java.lang.Math.floorMod(mix64(id * 1000003L + i), 2001L) - 1000L)
      .toInt

  /** [[synthesizeWav]] with the hash-mixed sample family — REAL WAV
    * container bytes, same id%3 kind mapping, same n = id%50+20
    * lengths; only the PCM content generator differs (see
    * [[mixedSample]] for why windowed-identity fixtures need it).
    */
  def synthesizeWavMixed(spark: SparkSession, ids: DataFrame,
                         idCol: String): DataFrame = {
    import spark.implicits._
    val kinds = Seq("image", "audio", "video")
    // no Spread: trivial per-row synthesis cost — see [[synthesizeWav]]
    ids.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1,
          true, false)
        it.map { rowId =>
          val kind = kinds((((rowId % 3) + 3) % 3).toInt)
          val n = (((rowId % 50) + 50) % 50 + 20).toInt
          val bytes = if (kind != "audio") null else {
            val pcm = new Array[Byte](n * 2)
            var i = 0
            while (i < n) {
              val s = mixedSample(rowId, i)
              pcm(2 * i) = (s & 0xff).toByte
              pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
              i += 1
            }
            wavContainerBytes(pcm, fmt, n)
          }
          SynthWav(rowId, kind, bytes, if (bytes == null) 0 else n)
        }
      }
      .toDF()
      .select(col("media_id"), col("kind"), col("content"),
        struct(lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(16000).as("sample_rate"),
          (col("n_samples").cast("long") * 1000L / 16000L)
            .as("duration_ms")).as("meta"))
  }

  /** RIFF/WAVE container for raw 16-bit LE mono PCM — the one encoder
    * shared by [[synthesizeWav]]-family synthesis and
    * [[trimWavCopies]] re-encoding (so a trimmed copy's container is
    * byte-identical to what a fresh synthesis of the suffix would
    * produce; only the PCM payload differs from the original's).
    */
  private def wavContainerBytes(pcm: Array[Byte],
                                fmt: javax.sound.sampled.AudioFormat,
                                n: Int): Array[Byte] = {
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Byte-level TRIMMED re-uploads of every audio row: decode, drop the
    * first `dropSamples` PCM samples, re-encode — the audio analog of
    * [[trimVideoCopies]] (surviving sample bytes untouched; header and
    * both whole-clip fingerprints change). Ids shift by `idOffset`
    * (pick a multiple of 3 so the synthetic kind mapping stays audio).
    */
  def trimWavCopies(media: DataFrame, idOffset: Long,
                    dropSamples: Int): DataFrame = {
    require(dropSamples >= 1, s"dropSamples must be >= 1: $dropSamples")
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "audio" && col("content").isNotNull)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1,
          true, false)
        rows.map { case (id, bytes) =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val raw = ais.readAllBytes()
          val kept = raw.drop(2 * dropSamples)
          SynthWav(id + idOffset, "audio",
            wavContainerBytes(kept, fmt, kept.length / 2),
            kept.length / 2)
        }
      }
      .toDF()
      .select(col("media_id"), col("kind"), col("content"),
        struct(lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(16000).as("sample_rate"),
          (col("n_samples").cast("long") * 1000L / 16000L)
            .as("duration_ms")).as("meta"))
  }

  /** Windowed audio identity SETS — the trim-robust fingerprint
    * surface: decoded PCM chops into COMPLETE fixed-length windows of
    * `windowSamples` (ragged tail dropped), each window's exact sample
    * content hashes to one 64-bit value, and consecutive runs of
    * `shingleLen` window hashes hash again into sequence shingles —
    * the (media_id, __sh array<long>) shape every
    * [[graft.ops.Dedup.hashSetNearDupPairs]]-family consumer takes.
    *
    * Why this closes the audio corner of the edit-robustness grid:
    * both whole-clip fingerprints ([[audioFingerprint]],
    * [[audioSequencyFingerprint]]) anchor their bands at sample 0 over
    * the FULL clip, so a copy trimmed by even half a window shifts
    * every band boundary and the hash misses. Here a trim of any
    * multiple of `windowSamples` removes a PREFIX of window hashes and
    * keeps the rest bit-identical — jaccard degrades gracefully,
    * (k−w)/k after w dropped windows, exactly the q322 video closed
    * form. (A trim NOT aligned to the window grid still misses — the
    * documented trade of fixed-hop windowing; production systems layer
    * overlapping hops for sub-window alignment, which is this same op
    * at a second offset.)
    *
    * `shingleLen` defaults to 1 (each window hash IS the set element):
    * audio windows of 16+ samples are already sequence-context-rich,
    * unlike video frames where static scenes repeat identical frames
    * and need consecutive-frame shingles (q322) to stay
    * order-sensitive. Map-only: the whole chop+hash chain runs inside
    * one mapPartitions over (id, blob) — no shuffle at all until the
    * LSH consumer aggregates.
    *
    * `hopOffsets` is the OVERLAPPING-HOP production fix for the
    * fixed-grid alignment trade: each offset contributes its own
    * window lane (windows starting at that sample offset), and all
    * lanes' shingles union into one set. With offsets {0, W/2} a trim
    * of W/2 samples maps the copy's lane-0 windows onto the original's
    * lane-W/2 windows bit-exactly — the single-lane tier provably
    * misses that trim (q329's pin) while the two-lane set keeps
    * (s−1)/s of its elements (q336's closed form). Lanes cost one
    * extra O(n) hash pass each over the ALREADY-decoded samples — the
    * decode (the real cost) still happens once.
    *
    * Clips with fewer than `windowSamples·shingleLen` samples (no
    * complete shingle) and undecodable blobs emit NO row — same
    * contract as [[videoExactShingles]]; the census tiers own
    * data-quality surfacing.
    */
  def audioWindowShingles(media: DataFrame, windowSamples: Int = 16,
                          shingleLen: Int = 1,
                          hopOffsets: Seq[Int] = Seq(0)): DataFrame = {
    require(windowSamples >= 2 && windowSamples <= 65536,
      s"windowSamples must be in [2, 65536]: $windowSamples")
    require(shingleLen >= 1 && shingleLen <= 16,
      s"shingleLen must be in [1, 16]: $shingleLen")
    require(hopOffsets.nonEmpty && hopOffsets.forall(o =>
      o >= 0 && o < windowSamples),
      s"hopOffsets must be in [0, windowSamples): $hopOffsets")
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "audio" && col("content").isNotNull)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            require(ais.getFormat.getSampleSizeInBits == 16 &&
              ais.getFormat.getChannels == 1, "expected 16-bit mono PCM")
            val raw = ais.readAllBytes()
            val n = raw.length / 2
            val out = scala.collection.mutable.ArrayBuffer.empty[Long]
            for (off <- hopOffsets) {
              val k = (n - off) / windowSamples
              if (k >= shingleLen) {
                val wh = new Array[Long](k)
                var w = 0
                while (w < k) {
                  var h = 0x6a09e667f3bcc908L // content-only: no id, no
                  var i = 0                   // offset — trim-invariant
                  while (i < windowSamples) {
                    val p = 2 * (off + w * windowSamples + i)
                    val s = (raw(p + 1).toInt << 8) | (raw(p) & 0xff)
                    h = mix64(h * 0x100000001b3L ^ s)
                    i += 1
                  }
                  wh(w) = h
                  w += 1
                }
                var j = 0
                while (j <= k - shingleLen) {
                  var h = 0x3c6ef372fe94f82bL
                  var t = 0
                  while (t < shingleLen) {
                    h = mix64(h * 0x100000001b3L ^ wh(j + t))
                    t += 1
                  }
                  out += h
                  j += 1
                }
              }
            }
            if (out.isEmpty) Iterator.empty
            else Iterator.single((id, out.toArray))
          } catch { case scala.util.control.NonFatal(_) =>
            Iterator.empty
          }
        }
      }
      .toDF("media_id", "__sh")
  }

  /** Trim-robust audio near-dup PAIRS: windowed identity sets → the
    * generic MinHash-LSH pair pipeline (banded candidates, exact
    * jaccard verify, merge-pinned no-broadcast joins) — the audio
    * member of the per-modality edit-robustness grid (text spans /
    * containment, video q322/q328, image pHash). Returns
    * (id_a, id_b, jaccard_sim) with id_a < id_b.
    */
  def audioNearDupPairsWindowed(media: DataFrame,
                                windowSamples: Int = 16,
                                shingleLen: Int = 1,
                                numPerm: Int = 64, bands: Int = 32,
                                threshold: Double = 0.6): DataFrame =
    graft.ops.Dedup.hashSetNearDupPairs(
      audioWindowShingles(media, windowSamples, shingleLen),
      "media_id", "__sh", numPerm, bands, threshold)

  /** Build-once / probe-many lifecycle for incremental AUDIO near-dup
    * over the windowed identity — the audio twin of
    * [[buildVideoNearDupIndex]], riding the same generic hash-set
    * index (bucketed halves, in-place bucket probe, marker-guarded
    * append, params validated at probe).
    */
  def buildAudioNearDupIndex(media: DataFrame, name: String,
                             path: String, windowSamples: Int = 16,
                             shingleLen: Int = 1, numPerm: Int = 64,
                             bands: Int = 32, numBuckets: Int = 32): Unit =
    graft.ops.Dedup.buildHashSetIndex(
      audioWindowShingles(media, windowSamples, shingleLen),
      name, path, "media_id", "__sh", numPerm, bands, numBuckets)

  /** Verified (batch audio, indexed audio) near-dup pairs against a
    * [[buildAudioNearDupIndex]] index — batch decode cost only.
    */
  def probeAudioNearDup(batch: DataFrame, name: String,
                        windowSamples: Int = 16, shingleLen: Int = 1,
                        numPerm: Int = 64, bands: Int = 32,
                        threshold: Double = 0.6): DataFrame =
    graft.ops.Dedup.hashSetMatchesIndexed(
      audioWindowShingles(batch, windowSamples, shingleLen),
      name, "media_id", "__sh", numPerm, bands, threshold)

  /** DEEP-TRIM audio tier — CONTAINMENT, not jaccard (the q328 video
    * logic on the windowed identity): a clip keeping only a minority
    * suffix drops jaccard to |c|/|o| and provably escapes the
    * [[audioNearDupPairsWindowed]] cut, while its window-hash set is
    * still a SUBSET of the original's — containment stays exactly 1.
    * Returns (id_a contained-in id_b, containment).
    */
  def audioContainmentPairs(media: DataFrame, windowSamples: Int = 16,
                            shingleLen: Int = 1,
                            threshold: Double = 0.9,
                            anchorCount: Int = 1): DataFrame =
    graft.ops.Dedup.hashSetContainmentPairs(
      audioWindowShingles(media, windowSamples, shingleLen),
      "media_id", "__sh", threshold, anchorCount)

  /** [[audioNearDupPairsWindowed]] with TWO overlapping hop lanes
    * ({0, W/2}) — catches trims aligned to the HALF-window grid that
    * the single-lane tier provably misses: the trimmed copy's lane-0
    * windows are the original's lane-W/2 windows bit-exactly, so the
    * union set keeps (s−1)/s of its elements (s = both lanes' window
    * count). Arbitrary-offset trims still miss — each added lane
    * halves the blind spot at one extra O(n) hash pass (never an
    * extra decode).
    */
  def audioNearDupPairsOverlapped(media: DataFrame,
                                  windowSamples: Int = 16,
                                  numPerm: Int = 64, bands: Int = 32,
                                  threshold: Double = 0.6): DataFrame =
    graft.ops.Dedup.hashSetNearDupPairs(
      audioWindowShingles(media, windowSamples, shingleLen = 1,
        hopOffsets = Seq(0, windowSamples / 2)),
      "media_id", "__sh", numPerm, bands, threshold)

  // ------------------------------------- crop-robust TILED image tier

  /** Sample-accurate textured PNG synthesis for tile-identity fixtures:
    * dims are exact multiples of `tilePx` (tilesW = (id/3)%4+2,
    * tilesH = (id/3)%3+2 tiles), pixel gray is hash-mixed in
    * (id, x, y) — NON-additive, so distinct images share no tile and
    * (unlike the brightness-shift [[synthChannel]] family) tile pHashes
    * are genuinely distinct. Same id%3 kind mapping as
    * [[synthesizePng]].
    */
  def synthesizePngTextured(spark: SparkSession, ids: DataFrame,
                            idCol: String, tilePx: Int = 16): DataFrame = {
    import spark.implicits._
    require(tilePx >= 8 && tilePx <= 64, s"tilePx in [8, 64]: $tilePx")
    val kinds = Seq("image", "audio", "video")
    Spread.spread(ids.select(col(idCol).cast("long"))).as[Long]
      // (spread: a one-row-group id scan is ONE split; without it the
      // whole synthesis+codec chain fused onto it runs on one core)
      .mapPartitions { it =>
        it.map { rowId =>
          val kind = kinds((((rowId % 3) + 3) % 3).toInt)
          val m = rowId / 3
          val w = ((m % 4 + 4) % 4 + 2).toInt * tilePx
          val h = ((m % 3 + 3) % 3 + 2).toInt * tilePx
          val bytes = if (kind != "image") null else {
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val g = java.lang.Math.floorMod(
                  mix64(rowId * 1000003L + y.toLong * 65536L + x),
                  256L).toInt
                img.setRGB(x, y, (g << 16) | (g << 8) | g)
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            bos.toByteArray
          }
          SynthPng(rowId, kind, bytes, w, h)
        }
      }
      .toDF()
      .select(col("media_id"), col("kind"), col("content"),
        struct(col("width"), col("height"),
          lit(16000).as("sample_rate"),
          lit(null).cast("long").as("duration_ms")).as("meta"))
  }

  /** Cropped re-uploads of every image row: decode, cut `dropTopTiles`
    * tile rows off the top and `dropLeftTiles` columns off the left
    * (either may be 0 for a single-edge crop; crop origin
    * aligned to the `tilePx` grid), re-encode PNG (lossless — surviving
    * pixels untouched). The image analog of [[trimVideoCopies]] /
    * [[trimWavCopies]]. Ids shift by `idOffset` (multiple of 3 keeps
    * the kind mapping).
    */
  def cropImageCopies(media: DataFrame, idOffset: Long,
                      dropLeftTiles: Int = 1, dropTopTiles: Int = 1,
                      tilePx: Int = 16): DataFrame = {
    require(dropLeftTiles >= 0 && dropTopTiles >= 0 &&
      dropLeftTiles + dropTopTiles >= 1,
      s"need a nonempty crop: ($dropLeftTiles, $dropTopTiles)")
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "image" && col("content").isNotNull)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          val cutX = dropLeftTiles * tilePx
          val cutY = dropTopTiles * tilePx
          val sub = img.getSubimage(cutX, cutY,
            img.getWidth - cutX, img.getHeight - cutY)
          // getSubimage shares the raster; copy so the PNG writer sees
          // a plain raster with (0,0) origin
          val out = new java.awt.image.BufferedImage(sub.getWidth,
            sub.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val gfx = out.createGraphics()
          gfx.drawImage(sub, 0, 0, null)
          gfx.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          SynthPng(id + idOffset, "image", bos.toByteArray,
            out.getWidth, out.getHeight)
        }
      }
      .toDF()
      .select(col("media_id"), col("kind"), col("content"),
        struct(col("width"), col("height"),
          lit(16000).as("sample_rate"),
          lit(null).cast("long").as("duration_ms")).as("meta"))
  }

  /** Tile-grid pHash identity SETS — the crop-robust image surface:
    * the image splits into COMPLETE fixed-size `tilePx`×`tilePx` tiles
    * (ragged right/bottom edges dropped), each tile's 64 pHash bits
    * (the [[phashLanes]] core on the tile's pixels — content-only, no
    * position) pack into one 64-bit element, and the image becomes a
    * SET of tile hashes for the [[graft.ops.Dedup]] hash-set machinery.
    *
    * Why this closes the crop gap: whole-image aHash/pHash resample
    * the FULL frame to 8×8, so any crop moves every sample point and
    * the hash walks away (pinned). A crop whose origin lands on the
    * tile grid keeps its interior tiles PIXEL-identical, so its tile
    * set is a subset of the original's — containment 1.0 through
    * [[graft.ops.Dedup.hashSetContainmentPairs]], exactly q328's
    * deep-trim logic applied to images. (Arbitrary-offset crops miss —
    * the fixed-grid trade, same as the audio tier's window alignment;
    * production systems add overlapping grids, which is this op at
    * shifted origins.) Map-only per image row.
    */
  def imageTilePHashes(media: DataFrame, tilePx: Int = 16): DataFrame = {
    require(tilePx >= 8 && tilePx <= 256, s"tilePx in [8, 256]: $tilePx")
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "image" && col("content").isNotNull)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val basis = dctBasisQ
        rows.flatMap { case (id, bytes) =>
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            require(img != null, "content is not a decodable image")
            val tw = img.getWidth / tilePx
            val th = img.getHeight / tilePx
            if (tw == 0 || th == 0) Iterator.empty
            else {
              val hs = new Array[Long](tw * th)
              var ty = 0
              while (ty < th) {
                var tx = 0
                while (tx < tw) {
                  val (hi, lo) = phashLanes(
                    img.getSubimage(tx * tilePx, ty * tilePx,
                      tilePx, tilePx), basis)
                  hs(ty * tw + tx) = (hi << 32) | (lo & 0xffffffffL)
                  tx += 1
                }
                ty += 1
              }
              Iterator.single((id, hs))
            }
          } catch { case scala.util.control.NonFatal(_) =>
            Iterator.empty
          }
        }
      }
      .toDF("media_id", "__sh")
  }

  /** Crop-robust image pairs — CONTAINMENT over tile-pHash sets:
    * (id_a contained-in id_b, containment). A cropped re-upload scores
    * exactly 1.0 while both whole-image hashes miss it entirely.
    */
  def imageCropContainmentPairs(media: DataFrame, tilePx: Int = 16,
                                threshold: Double = 0.9,
                                anchorCount: Int = 1): DataFrame =
    graft.ops.Dedup.hashSetContainmentPairs(
      imageTilePHashes(media, tilePx), "media_id", "__sh",
      threshold, anchorCount)

  /** JACCARD over tile-pHash sets — the symmetric sibling of
    * [[imageCropContainmentPairs]] for LIGHT crops (a trimmed border,
    * one cut edge) where the overlap is still the majority of BOTH
    * images: rides the generic banded MinHash-LSH pipeline, so a
    * corpus-scale sweep needs no all-pairs pass. Heavy crops drop
    * below any sane jaccard cut and belong to the containment tier
    * (q333); both run off ONE [[imageTilePHashes]] pass.
    */
  def imageTileNearDupPairs(media: DataFrame, tilePx: Int = 16,
                            numPerm: Int = 64, bands: Int = 32,
                            threshold: Double = 0.6): DataFrame =
    graft.ops.Dedup.hashSetNearDupPairs(
      imageTilePHashes(media, tilePx), "media_id", "__sh",
      numPerm, bands, threshold)

  /** Build-once / probe-many lifecycle for incremental crop-aware
    * IMAGE dedup — the image member of the generic hash-set index
    * family (video [[buildVideoNearDupIndex]], audio
    * [[buildAudioNearDupIndex]]): the corpus's tile-pHash surface
    * persists once; a daily image batch probes buckets with only its
    * own decode. Params validated at probe.
    */
  def buildImageTileIndex(media: DataFrame, name: String, path: String,
                          tilePx: Int = 16, numPerm: Int = 64,
                          bands: Int = 32, numBuckets: Int = 32): Unit =
    graft.ops.Dedup.buildHashSetIndex(
      imageTilePHashes(media, tilePx), name, path, "media_id", "__sh",
      numPerm, bands, numBuckets)

  /** Verified (batch image, indexed image) near-dup pairs against a
    * [[buildImageTileIndex]] index — batch decode cost only.
    */
  def probeImageTileNearDup(batch: DataFrame, name: String,
                            tilePx: Int = 16, numPerm: Int = 64,
                            bands: Int = 32,
                            threshold: Double = 0.6): DataFrame =
    graft.ops.Dedup.hashSetMatchesIndexed(
      imageTilePHashes(batch, tilePx), name, "media_id", "__sh",
      numPerm, bands, threshold)

  case class WavFeatures(media_id: Long, sample_rate: Option[Int],
                         n_samples: Option[Long], peak_abs: Option[Int],
                         sum_abs: Option[Long],
                         zero_crossings: Option[Long],
                         decode_error: Option[String])

  /** Real audio decode executor tier: `javax.sound.sampled` WAV parse
    * inside mapPartitions, then the standard cheap audio-quality
    * features a corpus filter wants, all in exact integer arithmetic so
    * an SQL oracle replays them: sample count, peak |s|, Σ|s| (energy
    * proxy), and strict zero crossings (s[i−1]·s[i] < 0). Sample rate
    * comes from the DECODED header (the codec's truth, not metadata).
    * Only audio rows with a blob reach the codec — the metadata-only
    * kind filter prunes image/video blob reads.
    */
  def decodeWavFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "audio" && col("content").isNotNull)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val fmt = ais.getFormat
            require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
              s"expected 16-bit mono PCM, got $fmt")
            val raw = ais.readAllBytes()
            val n = raw.length / 2
            var peak = 0; var sumAbs = 0L; var zc = 0L
            var prev = 0; var i = 0
            while (i < n) {
              val lo = raw(2 * i) & 0xff
              val hi = raw(2 * i + 1).toInt
              val s = (hi << 8) | lo
              val a = math.abs(s)
              if (a > peak) peak = a
              sumAbs += a
              if (i > 0 && prev.toLong * s < 0) zc += 1
              prev = s
              i += 1
            }
            WavFeatures(id, Some(fmt.getSampleRate.toInt), Some(n.toLong),
              Some(peak), Some(sumAbs), Some(zc), None)
          } catch { case scala.util.control.NonFatal(e) =>
            WavFeatures(id, None, None, None, None, None,
              Some(decodeErrMsg(e)))
          }
        }
      }
      .toDF()
  }

  // -------------------------------------------------- real video codec tier

  /** Minimal RIFF/AVI (MJPEG) mux: one `00dc` chunk per JPEG frame under
    * the standard `hdrl`(avih + strl(strh/strf)) + `movi` layout, all
    * little-endian, no idx1 (players tolerate index-less AVI; our own
    * demuxer below never needs one). MJPEG-in-AVI is the one video
    * container a pure JVM can both WRITE and DECODE (each frame is a
    * standalone JPEG through `ImageIO`), which is exactly what the video
    * tier needs to stop being a stub: real container bytes, real frame
    * decode, real corrupt-container quarantine.
    */
  private def aviBytes(jpegs: Seq[Array[Byte]], w: Int, h: Int,
                       fps: Int): Array[Byte] = {
    def pad(n: Int) = n + (n & 1)
    val maxJpeg = jpegs.map(_.length).max
    val moviContent = 4 + jpegs.map(j => 8 + pad(j.length)).sum
    val hdrlContent = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
    val riffContent = 4 + (8 + hdrlContent) + (8 + moviContent)
    val buf = java.nio.ByteBuffer.allocate(8 + riffContent)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
    cc("RIFF"); buf.putInt(riffContent); cc("AVI ")
    cc("LIST"); buf.putInt(hdrlContent); cc("hdrl")
    cc("avih"); buf.putInt(56)
    buf.putInt(1000000 / fps) // dwMicroSecPerFrame
    buf.putInt(0); buf.putInt(0); buf.putInt(0) // maxBytesPerSec/pad/flags
    buf.putInt(jpegs.length) // dwTotalFrames
    buf.putInt(0); buf.putInt(1) // dwInitialFrames, dwStreams
    buf.putInt(maxJpeg) // dwSuggestedBufferSize
    buf.putInt(w); buf.putInt(h)
    (0 until 4).foreach(_ => buf.putInt(0)) // dwReserved
    cc("LIST"); buf.putInt(4 + (8 + 56) + (8 + 40)); cc("strl")
    cc("strh"); buf.putInt(56)
    cc("vids"); cc("MJPG")
    buf.putInt(0) // dwFlags
    buf.putShort(0); buf.putShort(0) // wPriority, wLanguage
    buf.putInt(0) // dwInitialFrames
    buf.putInt(1); buf.putInt(fps) // dwScale, dwRate → fps frames/sec
    buf.putInt(0); buf.putInt(jpegs.length) // dwStart, dwLength
    buf.putInt(maxJpeg) // dwSuggestedBufferSize
    buf.putInt(-1); buf.putInt(0) // dwQuality (default), dwSampleSize
    buf.putShort(0); buf.putShort(0) // rcFrame left, top
    buf.putShort(w.toShort); buf.putShort(h.toShort) // rcFrame right, bottom
    cc("strf"); buf.putInt(40)
    buf.putInt(40); buf.putInt(w); buf.putInt(h) // biSize, biWidth, biHeight
    buf.putShort(1); buf.putShort(24) // biPlanes, biBitCount
    cc("MJPG") // biCompression
    buf.putInt(w * h * 3) // biSizeImage
    buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0)
    cc("LIST"); buf.putInt(moviContent); cc("movi")
    jpegs.foreach { j =>
      cc("00dc"); buf.putInt(j.length); buf.put(j)
      if ((j.length & 1) == 1) buf.put(0.toByte) // RIFF even-padding
    }
    buf.array()
  }

  /** Defensive RIFF/AVI demux: walk the chunk tree, collect the `movi`
    * list's `00dc` payloads in stream order. Every size field is bounds-
    * checked against the remaining container BEFORE it is trusted — a
    * truncated or bit-rotted chunk size throws (→ the quarantine lane),
    * never reads past the buffer or allocates a bogus-size array.
    */
  private def aviFrameChunks(bytes: Array[Byte]): Seq[Array[Byte]] = {
    require(bytes.length >= 12, "truncated container (no RIFF header)")
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(): String = {
      val a = new Array[Byte](4); buf.get(a); new String(a, "US-ASCII")
    }
    require(cc() == "RIFF", "not a RIFF container")
    val riffSize = buf.getInt
    require(riffSize >= 4 && riffSize <= buf.remaining(),
      "RIFF size overruns container")
    require(cc() == "AVI ", "RIFF is not an AVI")
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (buf.remaining() >= 8) {
      val id = cc(); val sz = buf.getInt
      require(sz >= 0 && sz <= buf.remaining(),
        s"chunk '$id' size overruns container")
      val end = buf.position() + sz
      if (id == "LIST" && sz >= 4 && cc() == "movi") {
        while (buf.position() + 8 <= end) {
          val cid = cc(); val csz = buf.getInt
          require(csz >= 0 && buf.position() + csz <= end,
            s"movi chunk '$cid' overruns list")
          if (cid == "00dc") {
            val a = new Array[Byte](csz); buf.get(a); frames += a
          } else buf.position(buf.position() + csz)
          if ((csz & 1) == 1 && buf.position() < end)
            buf.position(buf.position() + 1)
        }
      }
      buf.position(math.min(end + (sz & 1), buf.limit()))
    }
    require(frames.nonEmpty, "no video frame chunks in container")
    frames.toSeq
  }

  // public (not private): Janino compiles the generated row encoder
  // against these accessors — a private nested class forces a
  // CompileException + interpreted-mode fallback on every media query
  case class SynthAvi(media_id: Long, kind: String,
                              content: Array[Byte], width: Int, height: Int,
                              n_frames: Int)

  /** REAL MJPEG-in-AVI synthesis — the video third of the fixture
    * trilogy ([[synthesizePng]] / [[synthesizeWav]]): only VIDEO rows
    * (id%3 = 2) carry a blob; geometry reuses the image closed form
    * (w = vid%13+4, h = vid%11+4), frame count is vid%10+4, and frames
    * come in SCENES of `sceneLen`: frame k's pixels are the
    * [[synthChannel]] pattern of pid = vid·1000 + k/sceneLen, JPEG-
    * encoded once per scene, so frames within a scene are byte-identical
    * (decoded pixels exactly equal — zero feature delta) and every scene
    * boundary is a real content cut. That gives scene-change detection
    * over DECODED pixels a closed-form truth: cuts happen exactly at
    * k % sceneLen = 0, k ≥ 1.  `patternMod` mirrors the other synths:
    * pixel pattern + geometry derive from rowId % patternMod so distinct
    * ids carry byte-identical video (the re-upload duplicate shape).
    */
  def synthesizeAvi(spark: SparkSession, ids: DataFrame, idCol: String,
                    patternMod: Long = 0L, fps: Int = 4,
                    sceneLen: Int = 3): DataFrame = {
    import spark.implicits._
    require(patternMod >= 0L, s"patternMod must be >= 0: $patternMod")
    require(fps >= 1 && fps <= 1000000, s"fps must be in [1, 1e6]: $fps")
    require(sceneLen >= 1, s"sceneLen must be >= 1: $sceneLen")
    val kinds = Seq("image", "audio", "video")
    Spread.spread(ids.select(col(idCol).cast("long"))).as[Long]
      // (spread: a one-row-group id scan is ONE split; without it the
      // whole synthesis+codec chain fused onto it runs on one core)
      .mapPartitions { it =>
        it.map { rowId =>
          val kind = kinds((((rowId % 3) + 3) % 3).toInt)
          val id = if (patternMod > 0) rowId % patternMod else rowId
          val w = (id % 13 + 4).toInt
          val h = (id % 11 + 4).toInt
          val n = (id % 10 + 4).toInt
          val bytes = if (kind != "video") null else {
            // one JPEG per SCENE, reused for every frame in it
            val sceneJpeg = scala.collection.mutable.Map.empty[Int, Array[Byte]]
            def jpegOf(scene: Int): Array[Byte] =
              sceneJpeg.getOrElseUpdate(scene, {
                val pid = id * 1000L + scene
                val img = new java.awt.image.BufferedImage(
                  w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    img.setRGB(x, y,
                      (synthChannel(pid, x, y, 0) << 16) |
                        (synthChannel(pid, x, y, 1) << 8) |
                        synthChannel(pid, x, y, 2))
                    x += 1
                  }
                  y += 1
                }
                val bos = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(img, "jpg", bos)
                bos.toByteArray
              })
            aviBytes((0 until n).map(k => jpegOf(k / sceneLen)), w, h, fps)
          }
          SynthAvi(rowId, kind, bytes, w, h, n)
        }
      }
      .toDF()
      .select(col("media_id"), col("kind"), col("content"),
        struct(
          when(col("kind") === "video", col("width")).cast("int").as("width"),
          when(col("kind") === "video", col("height")).cast("int")
            .as("height"),
          lit(null).cast("int").as("sample_rate"),
          when(col("kind") === "video",
            col("n_frames").cast("long") * 1000L / fps).cast("long")
            .as("duration_ms")).as("meta"))
  }

  /** NON-ADDITIVE textured MJPEG-in-AVI synthesis — the video twin of
    * [[synthesizePngTextured]], built so the PERCEPTUAL tier can carry
    * an oracle: scene pixels are flat 8-px cells (one JPEG luma
    * block each) whose binary grays are hash-mixed in (scene pid, cell) — structured, LOW-frequency
    * content with genuinely distinct DCT signatures per scene, unlike
    * [[synthesizeAvi]]'s additive [[synthChannel]] family where scenes
    * are brightness shifts of each other (the one thing pHash quotients
    * away, which is why the perceptual tier stayed unit-pinned through
    * r15). Flat cells spanning whole JPEG blocks also make the 64
    * pHash bits ROBUST to re-encoding at a different quality — the
    * coefficients sit far from the median, so recompression noise
    * cannot flip them. Geometry: (m%4+2)×(m%3+2) cells (m = id/3),
    * n = id%10+4 frames in scenes of `sceneLen`.
    */
  def synthesizeAviTextured(spark: SparkSession, ids: DataFrame,
                            idCol: String, fps: Int = 4,
                            sceneLen: Int = 3): DataFrame = {
    import spark.implicits._
    require(fps >= 1 && fps <= 1000000, s"fps must be in [1, 1e6]: $fps")
    require(sceneLen >= 1, s"sceneLen must be >= 1: $sceneLen")
    val kinds = Seq("image", "audio", "video")
    // 8-px texture cells (one JPEG luma block each — the affine-remap
    // invariance below needs per-block-uniform luma) on 16-px-unit
    // geometry: the smallest frame is 32×32 = 4×4 cells = 16 binary
    // degrees of freedom, so scene pHashes are distinct across
    // videos/scenes whp (16-px cells would leave 2×2-cell frames with
    // only 16 possible patterns — massive cross-video collisions)
    val cellPx = 8
    Spread.spread(ids.select(col(idCol).cast("long"))).as[Long]
      // (spread: a one-row-group id scan is ONE split; without it the
      // whole synthesis+codec chain fused onto it runs on one core)
      .mapPartitions { it =>
        it.map { rowId =>
          val kind = kinds((((rowId % 3) + 3) % 3).toInt)
          val m = rowId / 3
          val w = ((m % 4 + 4) % 4 + 2).toInt * 16
          val h = ((m % 3 + 3) % 3 + 2).toInt * 16
          val n = (((rowId % 10) + 10) % 10 + 4).toInt
          val bytes = if (kind != "video") null else {
            val sceneJpeg = scala.collection.mutable.Map.empty[Int, Array[Byte]]
            def jpegOf(scene: Int): Array[Byte] =
              sceneJpeg.getOrElseUpdate(scene, {
                val pid = rowId * 1000L + scene
                val img = new java.awt.image.BufferedImage(
                  w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    // BINARY cell grays (57 | 201): DCT coefficients of
                    // a ±80 blocky pattern sit far from the median
                    // comparisons, so recompression noise (±2 gray)
                    // cannot flip pHash bits — measured 100% bit
                    // survival under quality-0.5 re-encode where a
                    // 256-level texture lost ~5% of scenes
                    val g = if ((mix64(pid * 7919L
                      + (y / cellPx).toLong * 4096L
                      + (x / cellPx)) & 1L) == 0L) 57 else 201
                    img.setRGB(x, y, (g << 16) | (g << 8) | g)
                    x += 1
                  }
                  y += 1
                }
                val bos = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(img, "jpg", bos)
                bos.toByteArray
              })
            aviBytes((0 until n).map(k => jpegOf(k / sceneLen)), w, h, fps)
          }
          SynthAvi(rowId, kind, bytes, w, h, n)
        }
      }
      .toDF()
      .select(col("media_id"), col("kind"), col("content"),
        struct(
          when(col("kind") === "video", col("width")).cast("int").as("width"),
          when(col("kind") === "video", col("height")).cast("int")
            .as("height"),
          lit(null).cast("int").as("sample_rate"),
          when(col("kind") === "video",
            col("n_frames").cast("long") * 1000L / fps).cast("long")
            .as("duration_ms")).as("meta"))
  }

  /** RE-ENCODED copies of every video row — the fixture for the
    * perceptual tier's oracle: demux, DECODE each MJPEG frame, encode
    * it again at an explicit JPEG `quality` (≠ the writer default the
    * synthesis used), re-mux. Every frame's BYTES change (different
    * entropy coding + quantization tables) and decoded pixels drift by
    * recompression noise — so the EXACT decoded-identity tier provably
    * loses the copy — while each frame's 64 pHash bits survive on
    * low-frequency content. Ids shift by `idOffset` (multiple of 3).
    */
  def reencodeVideoCopies(media: DataFrame, idOffset: Long,
                          quality: Float = 0.5f,
                          fps: Int = 4): DataFrame = {
    require(quality > 0f && quality < 1f,
      s"quality must be in (0, 1): $quality")
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "video" && col("content").isNotNull)
      .select(col("media_id"), col("content"),
        col("meta.width"), col("meta.height"))
      .as[(Long, Array[Byte], Int, Int)]
      .mapPartitions { rows =>
        // ONE writer per partition (provider lookup + instance setup per
        // frame is pure overhead; setOutput rebinds it per frame, and the
        // JDK JPEG writer is deterministic, so the bytes are unchanged)
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("jpg").next()
        val p = writer.getDefaultWriteParam
        p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionQuality(quality)
        rows.map { case (id, bytes, w, h) =>
          // recode-once-per-distinct-chunk memo (the decodeAviFrames
          // discipline): identical input JPEG → identical recoded bytes
          val memo = new java.util.HashMap[java.nio.ByteBuffer,
            Array[Byte]]()
          val recoded = aviFrameChunks(bytes).map { j =>
            val key = java.nio.ByteBuffer.wrap(j)
            var out = memo.get(key)
            if (out == null) {
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(j))
              val bos = new java.io.ByteArrayOutputStream()
              val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
              writer.setOutput(ios)
              writer.write(null,
                new javax.imageio.IIOImage(img, null, null), p)
              ios.close()
              out = bos.toByteArray
              memo.put(key, out)
            }
            out
          }
          SynthAvi(id + idOffset, "video", aviBytes(recoded, w, h, fps),
            w, h, recoded.length)
        }
      }
      .toDF()
      .select(col("media_id"), col("kind"), col("content"),
        struct(col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          lit(null).cast("int").as("sample_rate"),
          (col("n_frames").cast("long") * 1000L / fps).as("duration_ms"))
          .as("meta"))
  }

  case class VideoFrame(media_id: Long, frame_no: Option[Int],
                        width: Option[Int], height: Option[Int],
                        gray_sum: Option[Long], pixel_checksum: Option[Long],
                        decode_error: Option[String])

  /** Real video decode executor tier: demux the AVI container, decode
    * every MJPEG frame through the SAME `ImageIO` sniffing as the image
    * tiers, and emit one row per frame with exact-integer metrics
    * (Σgray and the position-weighted pixel checksum
    * Σ (r + 256·g + 65536·b)·(1 + x + w·y) — [[decodeResizeImages]]'s
    * recipe, collision-proof enough that two frames comparing equal on
    * BOTH metrics are the same picture). A container that fails
    * structurally (truncated, bit-rotted sizes, garbage bytes) or any
    * frame `ImageIO` rejects quarantines the whole video as ONE
    * (null-metrics, decode_error) row — the per-video census shape —
    * instead of crashing the task. Non-video rows never reach the demux
    * (metadata-only kind filter prunes the blob read).
    *
    * Scale shape: map-only; one container + one decoded frame in memory
    * at a time per task. JPEG decoded pixels are deterministic per JVM
    * but lossy, so oracle queries compare frame metrics for EQUALITY
    * ACROSS frames (byte-identical frames ⇒ equal metrics ⇒ scene-cut
    * detection has a closed form) — never pixel values themselves
    * (q283's JPEG discipline).
    */
  /** `everyKth > 1` is the production decode-cost lever: the demux
    * walks every chunk (cheap — header arithmetic only) but ONLY every
    * k-th frame's JPEG reaches the codec, the video analogue of
    * [[frameSample]]'s every-Nth selection. Emitted `frame_no` keeps
    * the ORIGINAL stream index so timing math stays exact.
    */
  def decodeAviFrames(media: DataFrame, everyKth: Int = 1): DataFrame = {
    require(everyKth >= 1, s"everyKth must be >= 1: $everyKth")
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "video" && col("content").isNotNull)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          try {
            // scene-structured MJPEG repeats ONE JPEG for every frame of
            // a scene: decode each DISTINCT chunk once per video and
            // replay its metrics for the byte-identical repeats (content
            // equality via ByteBuffer keys — identical bytes decode to
            // identical pixels, so the memo cannot change any metric)
            val memo = new java.util.HashMap[java.nio.ByteBuffer,
              (Int, Int, Long, Long)]()
            aviFrameChunks(bytes).zipWithIndex
              .filter { case (_, k) => k % everyKth == 0 }
              .map { case (jpeg, k) =>
              val key = java.nio.ByteBuffer.wrap(jpeg)
              var m = memo.get(key)
              if (m == null) {
                val img = javax.imageio.ImageIO.read(
                  new java.io.ByteArrayInputStream(jpeg))
                require(img != null, s"frame $k is not a decodable image")
                val w = img.getWidth; val h = img.getHeight
                // one bulk getRGB: the per-pixel accessor re-runs the
                // color-model conversion on every call
                val px = img.getRGB(0, 0, w, h, null, 0, w)
                var gs = 0L; var ck = 0L
                var y = 0
                while (y < h) {
                  val rowOff = y * w
                  var x = 0
                  while (x < w) {
                    val rgb = px(rowOff + x)
                    val r = (rgb >> 16) & 0xff
                    val g = (rgb >> 8) & 0xff
                    val b = rgb & 0xff
                    gs += (r + g + b) / 3
                    ck += (r + 256L * g + 65536L * b) *
                      (1L + x + w.toLong * y)
                    x += 1
                  }
                  y += 1
                }
                m = (w, h, gs, ck)
                memo.put(key, m)
              }
              VideoFrame(id, Some(k), Some(m._1), Some(m._2), Some(m._3),
                Some(m._4), None)
            }
          } catch { case scala.util.control.NonFatal(e) =>
            Seq(VideoFrame(id, None, None, None, None, None,
              Some(decodeErrMsg(e))))
          }
        }
      }
      .toDF()
  }

  // ------------------------------------------ robust video near-dup tier

  case class FramePHash(media_id: Long, frame_no: Option[Int],
                        phash_hi: Option[Long], phash_lo: Option[Long],
                        decode_error: Option[String])

  /** Per-frame perceptual hash of every video: demux the AVI container
    * ([[decodeAviFrames]]'s walk), decode every `everyKth`-th MJPEG
    * frame, and emit its [[imagePHash]] bits — the robust tier's input.
    * The exact triple (q292's Σchecksum/Σgray/n_frames) only catches
    * byte-identical re-uploads; a TRIMMED, frame-rate-shifted or
    * mildly re-encoded copy needs content-level frame identity, which
    * is exactly what the DCT hash provides per frame. Same quarantine
    * contract as every codec tier: a structurally-broken container or
    * an undecodable frame yields ONE (null, decode_error) row for the
    * whole video. Map-only; one container + one frame in memory per
    * task.
    */
  def videoFramePHashes(media: DataFrame, everyKth: Int = 1): DataFrame = {
    require(everyKth >= 1, s"everyKth must be >= 1: $everyKth")
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "video" && col("content").isNotNull)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val basis = dctBasisQ
        rows.flatMap { case (id, bytes) =>
          try {
            // decode-once-per-distinct-chunk memo (the decodeAviFrames
            // discipline): byte-identical scene repeats replay the pHash
            val memo = new java.util.HashMap[java.nio.ByteBuffer,
              (Long, Long)]()
            aviFrameChunks(bytes).zipWithIndex
              .filter { case (_, k) => k % everyKth == 0 }
              .map { case (jpeg, k) =>
                val key = java.nio.ByteBuffer.wrap(jpeg)
                var m = memo.get(key)
                if (m == null) {
                  val img = javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(jpeg))
                  require(img != null, s"frame $k is not a decodable image")
                  m = phashLanes(img, basis)
                  memo.put(key, m)
                }
                FramePHash(id, Some(k), Some(m._1), Some(m._2), None)
              }
          } catch { case scala.util.control.NonFatal(e) =>
            Seq(FramePHash(id, None, None, None, Some(decodeErrMsg(e))))
          }
        }
      }
      .toDF()
  }

  /** Frame-hash SHINGLES per video: the per-frame identity sequence
    * (ordered by frame_no) sliced into runs of `shingleLen` consecutive
    * frames, each run hashed to one 64-bit value — a video becomes a
    * SET of sequence shingles, the exact shape
    * [[graft.ops.Dedup.hashSetNearDupPairs]] consumes. Trimming /
    * frame-rate shifts remove a PREFIX of shingles and keep the rest,
    * so jaccard over the sets degrades gracefully where the whole-video
    * triple drops to zero. Sets are deduped (static scenes repeat
    * shingles) and videos shorter than `shingleLen` frames emit no row.
    *
    * Scale shape: one groupBy on media_id moving ~24 B per frame
    * (id + frame_no + two lanes), per-video state bounded by frame
    * count; the shingle expansion is an in-row array transform, never a
    * join.
    */
  private def frameShingles(frames: DataFrame, lane1: Column, lane2: Column,
                            shingleLen: Int): DataFrame = {
    require(shingleLen >= 1, s"shingleLen must be >= 1: $shingleLen")
    frames
      .filter(col("decode_error").isNull)
      .select(col("media_id"), struct(col("frame_no"), lane1.as("h1"),
        lane2.as("h2")).as("__e"))
      .groupBy(col("media_id"))
      .agg(array_sort(collect_list(col("__e"))).as("__f"))
      .filter(size(col("__f")) >= shingleLen)
      .select(col("media_id"),
        sort_array(array_distinct(transform(
          sequence(lit(0), size(col("__f")) - lit(shingleLen)),
          i => xxhash64((0 until shingleLen).flatMap { j =>
            val e = element_at(col("__f"), i + lit(j + 1))
            Seq(e.getField("h1"), e.getField("h2"))
          }: _*)))).as("__sh"))
  }

  /** [[frameShingles]] over [[videoFramePHashes]] output — the
    * PERCEPTUAL frame identity (see [[videoNearDupPairsPerceptual]]).
    */
  def videoPHashShingles(framePh: DataFrame,
                         shingleLen: Int = 2): DataFrame =
    frameShingles(framePh, col("phash_hi"), col("phash_lo"), shingleLen)

  /** [[frameShingles]] over [[decodeAviFrames]] output — the EXACT
    * decoded-frame identity: (position-weighted pixel checksum, Σgray)
    * plus geometry, collision-separated even where pHash is blind
    * (pHash deliberately ignores uniform brightness shifts, which is
    * ALSO what makes it collide on brightness-adjacent scenes).
    */
  def videoExactShingles(frames: DataFrame,
                         shingleLen: Int = 2): DataFrame =
    frameShingles(frames, col("pixel_checksum"), col("gray_sum"),
      shingleLen)

  /** Robust video near-dup PAIRS — CONTAINER-EDIT tier: per-frame EXACT
    * decoded identity → sequence shingles → the generic MinHash-LSH
    * pair pipeline (banded candidates, exact jaccard verify,
    * merge-pinned no-broadcast joins). Catches what the whole-video
    * triple (q292) provably cannot: a copy missing leading frames
    * (trim), sampled at a coarser rate, or re-muxed — any edit that
    * keeps SOME frames byte-identical. A mild RE-ENCODE (every frame's
    * bytes change, content survives) needs the perceptual twin below.
    * Returns (id_a, id_b, jaccard_sim) with id_a < id_b.
    */
  def videoNearDupPairs(media: DataFrame, shingleLen: Int = 2,
                        numPerm: Int = 64, bands: Int = 32,
                        threshold: Double = 0.6,
                        everyKth: Int = 1): DataFrame =
    graft.ops.Dedup.hashSetNearDupPairs(
      videoExactShingles(decodeAviFrames(media, everyKth), shingleLen),
      "media_id", "__sh", numPerm, bands, threshold)

  /** The PERCEPTUAL twin of [[videoNearDupPairs]]: frame identity is
    * the DCT pHash, so a copy whose frames were re-encoded (new bytes,
    * same pictures) still matches as long as each frame's 64 pHash bits
    * survive the recompression — the common case for mild quality
    * changes, since AC coefficients sit well away from the median
    * except on near-uniform frames. The trade: pHash quotients away
    * brightness, so brightness-adjacent DISTINCT scenes can collide
    * (the synthetic pattern family is additive in id and hits this by
    * construction — MultimodalSpec pins both directions). Production
    * guidance: run BOTH tiers; exact catches container edits with zero
    * false merges, perceptual adds re-encode recall.
    */
  def videoNearDupPairsPerceptual(media: DataFrame, shingleLen: Int = 2,
                                  numPerm: Int = 64, bands: Int = 32,
                                  threshold: Double = 0.6,
                                  everyKth: Int = 1): DataFrame =
    graft.ops.Dedup.hashSetNearDupPairs(
      videoPHashShingles(videoFramePHashes(media, everyKth), shingleLen),
      "media_id", "__sh", numPerm, bands, threshold)

  /** DEEP-TRIM video tier — CONTAINMENT, not jaccard: a clip keeping
    * only a tail (or any minority span) of the original drops jaccard
    * to |c|/|o| and provably escapes the [[videoNearDupPairs]] cut,
    * while its frame-shingle set is still a SUBSET of the original's —
    * containment |c∩o|/|c| stays 1. Rides the text family's
    * min-shingle-anchored capped candidate machinery over the exact
    * frame identity. Returns (id_a contained-in id_b, containment).
    */
  def videoContainmentPairs(media: DataFrame, shingleLen: Int = 2,
                            threshold: Double = 0.9,
                            anchorCount: Int = 1,
                            everyKth: Int = 1): DataFrame =
    graft.ops.Dedup.hashSetContainmentPairs(
      videoExactShingles(decodeAviFrames(media, everyKth), shingleLen),
      "media_id", "__sh", threshold, anchorCount)

  /** Build-once / probe-many lifecycle for incremental VIDEO near-dup:
    * the corpus's frame-shingle surface persists through the generic
    * hash-set index ([[graft.ops.Dedup.buildHashSetIndex]] — the same
    * two bucketed halves, in-place bucket probe, marker-guarded append
    * as the text family), so a daily video batch probes buckets
    * instead of re-decoding the corpus. Probe params MUST match the
    * build's (they parameterize the hash family).
    */
  def buildVideoNearDupIndex(media: DataFrame, name: String, path: String,
                             shingleLen: Int = 2, numPerm: Int = 64,
                             bands: Int = 32, numBuckets: Int = 32,
                             everyKth: Int = 1): Unit =
    graft.ops.Dedup.buildHashSetIndex(
      videoExactShingles(decodeAviFrames(media, everyKth), shingleLen),
      name, path, "media_id", "__sh", numPerm, bands, numBuckets)

  /** Verified (batch video, indexed video) near-dup pairs against a
    * [[buildVideoNearDupIndex]] index — batch decode cost only.
    */
  def probeVideoNearDup(batch: DataFrame, name: String,
                        shingleLen: Int = 2, numPerm: Int = 64,
                        bands: Int = 32, threshold: Double = 0.6,
                        everyKth: Int = 1): DataFrame =
    graft.ops.Dedup.hashSetMatchesIndexed(
      videoExactShingles(decodeAviFrames(batch, everyKth), shingleLen),
      name, "media_id", "__sh", numPerm, bands, threshold)

  /** Build-once / probe-many lifecycle for incremental DEEP-TRIM video
    * detection — the persisted tier of [[videoContainmentPairs]]
    * through the generic hash-set containment index: the corpus's
    * frame-shingle anchor surface persists once; a daily batch of
    * suspected clips probes with only its own decode.
    */
  def buildVideoContainmentIndex(media: DataFrame, name: String,
                                 path: String, shingleLen: Int = 2,
                                 maxBucket: Int = 10000,
                                 numBuckets: Int = 32,
                                 everyKth: Int = 1): Unit =
    graft.ops.Dedup.buildHashSetContainmentIndex(
      videoExactShingles(decodeAviFrames(media, everyKth), shingleLen),
      name, path, "media_id", "__sh", maxBucket, numBuckets)

  /** Clips of the batch contained in indexed corpus videos —
    * (batch id_a, corpus id_b, containment).
    */
  def probeVideoContainment(batch: DataFrame, name: String,
                            shingleLen: Int = 2,
                            threshold: Double = 0.9,
                            anchorCount: Int = 1,
                            everyKth: Int = 1): DataFrame =
    graft.ops.Dedup.hashSetContainmentPairsIndexed(
      videoExactShingles(decodeAviFrames(batch, everyKth), shingleLen),
      name, "media_id", "__sh", threshold, anchorCount)

  /** Byte-level TRIMMED re-uploads of every video row: demux, drop the
    * first `dropFrames` frame chunks, re-mux with the same geometry —
    * the frame BYTES are untouched, so decoded pixels (and frame
    * pHashes) of surviving frames are identical to the original's. The
    * fixture generator for the robust tier's oracle: the exact triple
    * changes on every trimmed copy (n_frames and both sums shrink)
    * while the shingle tier retains the suffix overlap. Ids shift by
    * `idOffset` (callers pick a multiple of 3 so the synthetic kind
    * mapping stays 'video').
    */
  def trimVideoCopies(media: DataFrame, idOffset: Long, dropFrames: Int,
                      fps: Int = 4): DataFrame = {
    require(dropFrames >= 1, s"dropFrames must be >= 1: $dropFrames")
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "video" && col("content").isNotNull)
      .select(col("media_id"), col("content"),
        col("meta.width"), col("meta.height"))
      .as[(Long, Array[Byte], Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (id, bytes, w, h) =>
          val kept = aviFrameChunks(bytes).drop(dropFrames)
          SynthAvi(id + idOffset, "video", aviBytes(kept, w, h, fps),
            w, h, kept.length)
        }
      }
      .toDF()
      .select(col("media_id"), col("kind"), col("content"),
        struct(
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          lit(null).cast("int").as("sample_rate"),
          (col("n_frames").cast("long") * 1000L / fps).cast("long")
            .as("duration_ms")).as("meta"))
  }

  // ------------------------------- persisted perceptual-hash (aHash) index

  /** The `bands` equal bit-spans of a 64-bit aHash carried as two 32-bit
    * lanes — multi-index hashing (Norouzi/Punjani/Fleet, public): two
    * hashes within Hamming distance r < bands MUST agree exactly on at
    * least one band (pigeonhole: r flipped bits cannot touch every one
    * of `bands` disjoint spans), so near-dup candidate generation is a
    * plain equi-join on (band_id, band_val) against a bucketed table —
    * no O(n²) Hamming scan, the image analogue of MinHash-LSH banding.
    * Bands must split the two lanes evenly (64 % bands = 0 and each
    * band inside one lane) so the extraction is two shifts and a mask.
    */
  private def ahashBandVals(hi: Column, lo: Column,
                            bands: Int): Seq[Column] = {
    val bits = 64 / bands
    val mask = if (bits == 32) 0xffffffffL else (1L << bits) - 1
    (0 until bands).map { b =>
      val off = b * bits
      val lane = if (off < 32) lo else hi
      shiftright(lane, off % 32).bitwiseAND(lit(mask))
    }
  }

  private def ahashBanded(ah: DataFrame, bands: Int): DataFrame = {
    val vals = ahashBandVals(col("ahash_hi"), col("ahash_lo"), bands)
    ah.select(col("media_id"), col("ahash_hi"), col("ahash_lo"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band_id"), vals(b).as("band_val"))): _*))
          .as("__bb"))
      .select(col("media_id"), col("__bb.band_id").as("band_id"),
        col("__bb.band_val").as("band_val"),
        col("ahash_hi"), col("ahash_lo"))
  }

  /** Build the persisted perceptual-dup index over `media`'s images:
    * decode → aHash → one row per (band_id, band_val), bucketed on the
    * band key so probes read matching buckets in place (the
    * [[graft.ops.Dedup.buildNearDupIndex]] lifecycle, image edition).
    * Undecodable blobs are excluded (they quarantine in the aHash tier
    * and have no hash to index — run [[decodeCensus]] for the count).
    */
  def buildAHashIndex(media: DataFrame, name: String, path: String,
                      grid: Int = 8, bands: Int = 4,
                      numBuckets: Int = 32): Unit =
    buildHashIndex(imageAHash(media, grid)
      .filter(col("decode_error").isNull), name, path, bands, numBuckets)

  /** Build the banded Hamming index from an ALREADY-computed 64-bit
    * hash relation (media_id, ahash_hi, ahash_lo) — the hash-GENERIC
    * entry point: the pHash tier persists its index through here via
    * [[phashAsHashRelation]] (MultimodalSpec pins the brightness-shift
    * catch through the persisted lifecycle), and [[buildAHashIndex]] is
    * just this over the aHash codec tier.
    */
  def buildHashIndex(ah: DataFrame, name: String, path: String,
                     bands: Int = 4, numBuckets: Int = 32): Unit = {
    require(bands >= 2 && 64 % bands == 0 && 32 % (64 / bands) == 0,
      s"bands must split the two 32-bit lanes evenly: $bands")
    graft.io.IO.writeBucketed(ahashBanded(ah, bands), s"${name}_bands",
      s"$path/bands", Seq("band_id", "band_val"), numBuckets,
      Seq("band_id", "band_val"))
  }

  /** Append a batch's images to the standing index — replay-idempotent
    * (anti-join on media_id), the streaming-ingest discipline, under the
    * catalog's bucket spec (`numBuckets` is not read).
    */
  def appendToAHashIndex(spark: SparkSession, name: String,
                         batch: DataFrame, grid: Int = 8, bands: Int = 4,
                         numBuckets: Int = 32): Unit = {
    val fresh = batch.join(
      spark.table(s"${name}_bands").select(col("media_id")).distinct(),
      Seq("media_id"), "left_anti")
    val ah = imageAHash(fresh, grid).filter(col("decode_error").isNull)
    graft.io.IO.appendBucketed(ahashBanded(ah, bands), s"${name}_bands")
  }

  /** Small-file hygiene after many appends ([[graft.ops.Dedup
    * .compactNearDupIndex]]'s discipline): rewrite the bucketed band
    * table in place at its catalog location and bucket spec — contents
    * bit-identical, probe plans unchanged. `path` and `numBuckets` are
    * not read.
    */
  def compactAHashIndex(spark: SparkSession, name: String,
                        path: String, numBuckets: Int = 32): Unit =
    graft.io.IO.rewriteTable(spark, s"${name}_bands")(identity)

  /** Within-relation perceptual near-dup pairs over an aHash relation:
    * banded self-join (candidate generation, same pigeonhole guarantee
    * as the index probe) + exact bit_count verify → (id_a, id_b) with
    * id_a < id_b — the input [[graft.ops.Dedup.clusterNearDups]] wants
    * for rep selection. O(candidates), never O(n²).
    *
    * `maxBucket > 0` is the HOT-BAND defense (the LSH `maxBucket`
    * lesson, perceptual edition): a crawl's flat/black images all share
    * one aHash, so one (band_id, band_val) bucket goes quadratic in the
    * self-join. The cap keeps each band bucket's `maxBucket` LOWEST ids
    * via a GroupedTopK BOUNDED partial+final buffer — deterministic
    * prefix, no collect_list of the whole bucket anywhere — trading
    * recall on hot buckets for bounded state (byte-identical images
    * keep the SAME prefix in every band, so capped exact-dup groups
    * still pair within the prefix and CC reps stay the lowest ids).
    * 0 (the default) is exact — the oracle-replayable form.
    */
  def ahashNearDupPairs(ah: DataFrame, maxDist: Int = 3,
                        bands: Int = 4, maxBucket: Int = 0): DataFrame = {
    require(maxDist >= 0 && maxDist < bands,
      s"pigeonhole guarantee needs maxDist < bands: $maxDist vs $bands")
    val all = ahashBanded(ah, bands)
    val banded = if (maxBucket <= 0) all
      else graft.plans.TopK.perGroup(all, Seq("band_id", "band_val"),
        Seq(("media_id", false)), maxBucket)
    val a = banded.select(col("media_id").as("id_a"), col("band_id"),
      col("band_val"), col("ahash_hi").as("__ah"),
      col("ahash_lo").as("__al"))
    val b = banded.select(col("media_id").as("id_b"), col("band_id"),
      col("band_val"), col("ahash_hi").as("__bh"),
      col("ahash_lo").as("__bl"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__ah"), col("__al"),
        col("__bh"), col("__bl"))
      .distinct()
      .filter(bit_count(col("__ah").bitwiseXOR(col("__bh"))) +
        bit_count(col("__al").bitwiseXOR(col("__bl"))) <= maxDist)
      .select(col("id_a"), col("id_b"))
  }

  /** GDPR/right-to-be-forgotten delete: drop every band row of `ids` —
    * forgotten images stop matching future probes entirely. Anti-join +
    * bucketed rewrite with the build's exact specs (catalog-derived), so
    * probe plans are unchanged; convergence with a fresh build over
    * corpus-minus-ids is unit-pinned. Keeps the "delete reaches every
    * persisted index family" contract true for the 8th family. `path`
    * and `numBuckets` are not read.
    */
  def deleteFromAHashIndex(spark: SparkSession, name: String,
                           path: String, ids: DataFrame,
                           idCol: String = "media_id",
                           numBuckets: Int = 32): Unit = {
    val gone = ids.select(col(idCol).as("media_id")).distinct()
    graft.io.IO.rewriteTable(spark, s"${name}_bands")(
      _.join(gone, Seq("media_id"), "left_anti"))
  }

  /** Probe: every (batch image, indexed image) pair within Hamming
    * distance `maxDist` — EXACTLY (the pigeonhole makes the banded
    * candidate set a superset of the true result whenever maxDist <
    * bands, and the bit_count verify filters it to equality; an SQL
    * oracle can therefore replay the result as a plain all-pairs
    * Hamming filter). Returns (batch_id, corpus_id, dist).
    */
  def probeAHashIndex(batch: DataFrame, name: String, maxDist: Int = 3,
                      grid: Int = 8, bands: Int = 4): DataFrame =
    probeAHashHashes(
      imageAHash(batch, grid).filter(col("decode_error").isNull),
      name, maxDist, bands)

  /** [[probeAHashIndex]] over an ALREADY-computed aHash relation
    * (media_id, ahash_hi, ahash_lo) — the ingest loop hashes each batch
    * once and feeds census, probe, and within-batch dedup from it.
    */
  def probeAHashHashes(ah: DataFrame, name: String, maxDist: Int = 3,
                       bands: Int = 4): DataFrame = {
    require(maxDist >= 0 && maxDist < bands,
      s"pigeonhole guarantee needs maxDist < bands: $maxDist vs $bands")
    val spark = ah.sparkSession
    val probe = ahashBanded(ah, bands)
      .select(col("media_id").as("batch_id"), col("band_id"),
        col("band_val"), col("ahash_hi").as("__bh"),
        col("ahash_lo").as("__bl"))
    val ix = spark.table(s"${name}_bands")
      .select(col("media_id").as("corpus_id"), col("band_id"),
        col("band_val"), col("ahash_hi").as("__ch"),
        col("ahash_lo").as("__cl"))
    probe.join(ix, Seq("band_id", "band_val"))
      .select(col("batch_id"), col("corpus_id"),
        col("__bh"), col("__bl"), col("__ch"), col("__cl"))
      .distinct() // a pair may collide in several bands
      .select(col("batch_id"), col("corpus_id"),
        (bit_count(col("__bh").bitwiseXOR(col("__ch"))) +
          bit_count(col("__bl").bitwiseXOR(col("__cl")))).cast("int")
          .as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Partition-wise decode via mapPartitions (SURVEY.md §4 tier d — the
    * right tier here because a codec context is imperative, per-partition
    * state the expression layer can't model). The iterator is consumed
    * lazily, so a partition holds one row's blob at a time plus the codec;
    * with default maxPartitionBytes that bounds executor memory regardless
    * of corpus size.
    */
  def decodePartitionwise(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        val codec = new StubCodec // one codec context per partition
        rows.map { case (id, kind, bytes) =>
          MediaFeature(id, kind, if (bytes == null) 0 else bytes.length,
            codec.decode(bytes))
        }
      }
      .toDF()
  }
}
