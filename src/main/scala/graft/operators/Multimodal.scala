package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Multimodal column plumbing (builder brief): image/audio/video travel as
  * opaque BINARY payloads plus typed metadata; decode / feature-extract /
  * resize / frame-sample run as partition-local functions over the binary
  * column.
  *
  * HEADER DECODE IS REAL: PNG IHDR, JPEG SOF0, and GIF logical-screen-
  * descriptor parsing is pure byte arithmetic — no media library needed.
  * The staged payload table (`stagedPayloads`) synthesizes VALID headers
  * (correct signatures, chunk/segment layout, big-endian PNG/JPEG dims,
  * little-endian GIF dims) in front of the document bytes, and both the
  * declarative plan (substring+hex+conv, all codegen) and the imperative
  * kernel (`decode`, a proper JPEG segment scanner) recover dimensions
  * from those actual header bytes. PIXEL decode for still images is
  * real too: [[lumaSamples]] runs JDK ImageIO (PNG/JPEG/BMP/GIF, no
  * media libs needed) and feeds the same phash sketch contract, with
  * the byte-sampling path as the fallback for what ImageIO can't read
  * (and as the DuckDB oracle twin). Resize kernels and video frame
  * extraction remain stubbed behind the same signatures a JNI/ffmpeg
  * binding would keep.
  *
  * Scale shape: `mapPartitions` keeps the decoder batched per partition
  * (amortizing any native-lib init), payloads never shuffle before the
  * decode, and the output is columnar metadata — the binary drops out of
  * the projection as soon as features are extracted.
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  // ImageIO's default stream cache routes EVERY encode/decode through a
  // temp FILE in java.io.tmpdir (FileCacheImageInput/OutputStream) — one
  // create/write/read/delete cycle per image per call. The kernel-mode
  // IO bills to task CPU and scales with tmpdir contention, which made
  // the decode-heavy artifact builds' cpu environment-dependent (the
  // round-15 ledger divergence: same code, 2 s here vs 32 s in the
  // driver's container). Payloads here are in-memory byte arrays of
  // strip images; the memory-cache path is strictly better. Class-load
  // init so every JVM (driver and executors) flips it before the first
  // kernel call.
  javax.imageio.ImageIO.setUseCache(false)

  /** Decoded-media metadata contract. */
  case class MediaMeta(
    doc_id: Long, n_bytes: Long, format: String,
    width: Int, height: Int, n_frames: Int)

  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("format", StringType, nullable = true),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  /** REAL header parser — PNG / JPEG / GIF dimensions from the payload
    * bytes themselves, no media library:
    *   - PNG: 8-byte signature, then the IHDR chunk's big-endian 4-byte
    *     width/height at offsets 16/20 (the IHDR chunk is required to be
    *     first by the PNG spec, so fixed offsets are spec-correct);
    *   - JPEG: SOI then a proper SEGMENT SCAN — walk FF-marker segments
    *     by their declared lengths until a SOF0–SOF3 frame header, whose
    *     payload is precision(1), height(2 BE), width(2 BE). Real files
    *     put APPn/DQT segments first; the scan handles any order;
    *   - GIF: "GIF87a"/"GIF89a", then the logical screen descriptor's
    *     LITTLE-endian 2-byte width/height at offsets 6/8.
    * Unknown formats fall back to `fakeDecode` (the audio/video stand-in
    * — those containers stay stubbed). */
  def decode(docId: Long, payload: Array[Byte]): MediaMeta = {
    val n = payload.length.toLong
    def u8(i: Int): Int = payload(i) & 0xFF
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Int =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    if (n >= 24 && u8(0) == 0x89 && u8(1) == 0x50 && u8(2) == 0x4E &&
        u8(3) == 0x47 && u8(4) == 0x0D && u8(5) == 0x0A && u8(6) == 0x1A &&
        u8(7) == 0x0A)
      MediaMeta(docId, n, "png", be32(16), be32(20), 1)
    else if (n >= 4 && u8(0) == 0xFF && u8(1) == 0xD8) {
      var i = 2
      var w = 0; var h = 0; var found = false
      while (!found && i + 9 <= payload.length && u8(i) == 0xFF) {
        val marker = u8(i + 1)
        if (marker >= 0xC0 && marker <= 0xC3) { // SOF0..SOF3
          h = be16(i + 5); w = be16(i + 7); found = true
        } else i += 2 + be16(i + 2) // skip marker + declared segment length
      }
      MediaMeta(docId, n, "jpeg", w, h, 1)
    } else if (n >= 13 && u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' &&
               u8(3) == '8')
      MediaMeta(docId, n, "gif", le16(6), le16(8), 1)
    else fakeDecode(docId, payload)
  }

  /** DETERMINISTIC FAKE — the fallback for container formats whose decode
    * genuinely needs a media library (audio/video). Metadata is a pure
    * function of payload length so tests can predict it. */
  def fakeDecode(docId: Long, payload: Array[Byte]): MediaMeta = {
    val n = payload.length.toLong
    MediaMeta(docId, n, "unknown",
      width = (320 + n % 1600).toInt,
      height = (240 + (n * 7) % 840).toInt,
      n_frames = (1 + n % 240).toInt)
  }

  /** Partition-local batched decode: Dataset[(id, payload)] → metadata. */
  def decodePartitions(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val enc = org.apache.spark.sql.Encoders.product[MediaMeta]
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // Real decoders initialize their native context ONCE per
        // partition here, then stream the batch through it.
        it.map { case (id, bytes) => decode(id, bytes) }
      }(enc)
      .toDF()
  }

  /** Staged binary-payload table: each document's bytes behind a VALID
    * synthesized media header whose dimensions encode (320 + n % 1600,
    * 240 + 7n % 840) — so the DuckDB oracle can predict what the byte
    * parser must recover. Header synthesis is declarative (hex-string
    * concat → unhex), so staging + parse is one codegen'd plan with no
    * row-at-a-time step. Header sizes: PNG 33 B (sig + IHDR + CRC),
    * JPEG 15 B (SOI + SOF0 segment), GIF 13 B (sig + screen descriptor).
    */
  def stagedPayloads(s: SparkSession, dir: String): DataFrame =
    stagePayloadsFrom(Tables.documents(s, dir))

  /** Core of [[stagedPayloads]] over any (doc_id, text) frame — the
    * phash planted-twin path re-stages a handful of re-keyed docs
    * through the same header synthesis. */
  def stagePayloadsFrom(docs: DataFrame): DataFrame = {
    val n = length(col("text")).cast("bigint")
    def beHex(v: Column, digits: Int) = lpad(hex(v), digits, "0")
    def leHex16(v: Column) =
      concat(beHex(v % 256, 2), beHex((v / 256).cast("bigint"), 2))
    val w = lit(320) + n % 1600
    val h = lit(240) + (n * 7) % 840
    val pngHdr = concat(
      lit("89504E470D0A1A0A"), // signature
      lit("0000000D"), lit("49484452"), // IHDR length=13 + type
      beHex(w, 8), beHex(h, 8), // big-endian 4-byte dims
      lit("0802000000"), // bit depth 8, truecolor, no interlace
      lit("00000000")) // CRC (not validated by header readers)
    val jpegHdr = concat(
      lit("FFD8"), lit("FFC0"), lit("000B"), lit("08"), // SOI, SOF0, len=11, precision
      beHex(h, 4), beHex(w, 4), // big-endian 2-byte dims, height first
      lit("01"), lit("011100")) // 1 component: id 1, 1x1 sampling, qtable 0
    val gifHdr = concat(
      lit("474946383961"), // "GIF89a"
      leHex16(w), leHex16(h), // little-endian 2-byte dims
      lit("000000")) // no GCT, bg 0, square pixels
    val hdr = when(n % 3 === 0, pngHdr)
      .when(n % 3 === 1, jpegHdr)
      .otherwise(gifHdr)
    docs
      .select(col("doc_id"),
        concat(unhex(hdr), col("text").cast("binary")).as("payload"))
  }

  // ======================= Audio (WAV/PCM) =======================

  /** Canonical PCM WAV header size: RIFF(12) + fmt(24) + data hdr(8). */
  val WavHeaderBytes = 44

  /** Per-window sample count for the audio feature pass: 50 ms at the
    * 8 kHz base rate — the standard speech-processing frame. */
  val AudioWindow = 400

  /** Staged AUDIO payload table — the WAV member of the staging
    * convention ([[stagePayloadsFrom]] for images): each document's
    * bytes behind a VALID 44-byte PCM WAV header as 8-bit unsigned
    * MONO samples, sample rate derived as 8000 + 250·(n % 17) so the
    * DuckDB oracle predicts every field a parser must recover (the
    * synthesize→parse round-trip proof). Header synthesis is
    * declarative hex-concat → unhex; little-endian fields are built
    * byte-reversed in hex space. */
  def stageWavPayloads(docs: DataFrame): DataFrame = {
    val n = length(col("text")).cast("bigint")
    def beHex(v: Column, digits: Int) = lpad(hex(v), digits, "0")
    def leHex32(v: Column) = concat(
      beHex(v % 256, 2),
      beHex((v / 256).cast("bigint") % 256, 2),
      beHex((v / 65536).cast("bigint") % 256, 2),
      beHex((v / 16777216).cast("bigint") % 256, 2))
    val rate = lit(8000L) + lit(250L) * (n % 17)
    val hdr = concat(
      lit("52494646"), leHex32(n + 36), lit("57415645"), // RIFF size WAVE
      lit("666D7420"), lit("10000000"), // "fmt " + chunk len 16
      lit("0100"), lit("0100"), // PCM, mono (LE 2B each)
      leHex32(rate), leHex32(rate), // sample rate; byte rate (8-bit mono)
      lit("0100"), lit("0800"), // block align 1, bits 8
      lit("64617461"), leHex32(n)) // "data" + payload size
    docs.select(col("doc_id"),
      concat(unhex(hdr), col("text").cast("binary")).as("payload"))
  }

  /** Declarative WAV metadata parse over (doc_id, payload BINARY) —
    * the audio twin of [[metaPlan]]: every field read from the BYTES
    * by little-endian substring+hex+conv arithmetic (never from the
    * staging formula), duration as integer ms. Fully codegen'd. */
  def wavMetaPlan(payloads: DataFrame): DataFrame = {
    val p = col("payload")
    def le(pos: Int, len: Int): Column =
      (0 until len).map(i =>
        conv(hex(substring(p, pos + i, 1)), 16, 10).cast("bigint") *
          lit(1L << (8 * i))).reduce(_ + _)
    val isWav = hex(substring(p, 1, 4)) === "52494646" &&
      hex(substring(p, 9, 8)) === "57415645666D7420" &&
      length(p) >= WavHeaderBytes
    payloads.select(col("doc_id"),
        when(isWav, lit("wav")).otherwise(lit("unknown")).as("format"),
        when(isWav, le(23, 2)).cast("int").as("channels"),
        when(isWav, le(25, 4)).as("sample_rate"),
        when(isWav, le(29, 4)).as("byte_rate"),
        when(isWav, le(35, 2)).cast("int").as("bits"),
        when(isWav, le(41, 4)).as("data_bytes"))
      .withColumn("duration_ms",
        expr("CAST(data_bytes * 1000 div byte_rate AS BIGINT)"))
  }

  /** Windowed audio features over the staged PCM: per 400-sample
    * window, integer energy Σ(s−128)² (8-bit PCM centers at 128) and
    * the zero-crossing count of the MEAN-CENTERED window signal —
    * DC offset removal by cross-multiply (sign of s·n − Σs), so the
    * count is integer-exact and non-vacuous on ASCII-band samples
    * (every word boundary crosses the window mean). The decode reads
    * the payload's data section, not the source text — the oracle
    * replays from the text, so a hash match proves the byte path.
    *
    * Scale shape: one partition-local pass — per-doc array math, no
    * explode of samples into rows, no shuffle before the per-window
    * output (windows explode to rows only AFTER reduction inputs are
    * sliced; output is n/400 rows per doc). */
  def audioFeatures(payloads: DataFrame): DataFrame =
    payloads
      // The data section as raw BYTES — 8-bit PCM samples ARE the
      // bytes, so there is no string detour at all; the per-window
      // fold is the native [[graft.functions.PcmWindowStats]] kernel
      // (one tight byte loop inside WholeStageCodegen — the composed
      // transform/aggregate form ran interpreted at ~2 s per 5M
      // samples; the kernel serves the same integers, spec-pinned).
      .select(col("doc_id"),
        expr(s"substring(payload, ${WavHeaderBytes + 1})").as("pcm"))
      .select(col("doc_id"), col("pcm"), explode(expr(
        s"sequence(0, CAST(ceil(greatest(length(pcm), 1) / $AudioWindow.0) AS INT) - 1)"))
        .as("win"))
      .select(col("doc_id"), col("win").cast("int").as("win"),
        graft.functions.PcmOps.pcmWindowStats(
          col("pcm"), col("win").cast("bigint"), AudioWindow).as("st"))
      .select(col("doc_id"), col("win"),
        col("st.n_samples").as("n_samples"),
        col("st.energy").as("energy"),
        col("st.zcr").as("zcr"))

  /** Silence threshold: a window is SILENT iff its energy is STRICTLY
    * below this per-sample mean-square bound × n_samples (|s−128| < 3
    * on average — the dither band of 8-bit PCM). Strict: a window at
    * exactly 9·n is NOT silent (plant-pinned). */
  val AudioSilenceEnergyPerSample = 9L

  /** A document is SILENCE-flagged iff STRICTLY more than half its
    * windows are silent (silence_bp > 5000; the half-silent plant
    * pins the boundary). */
  val AudioSilenceShareBp = 5000L

  /** A document is CLIPPING-flagged iff its rail-sample share is
    * STRICTLY above 1% (clip_bp > 100; the exactly-1% plant pins the
    * boundary). Rails are the 8-bit saturation values 0 and 255. */
  val AudioClipBpMax = 100L

  /** doc_id base for the audio screen plants (disjoint from the
    * corpus and from [[PhashPlantBase]]'s image-plant range). */
  val AudioPlantBase = 2000000L

  /** The audio-screen PLANT SET: ASCII corpus text never produces a
    * rail sample (0/255) and almost never a silent window (chars
    * 32..126 ⇒ per-sample energy ≥ 4, silent only for runs of '~'),
    * so without plants both screen branches are vacuously untested —
    * the `PhashPlantBase` / `q_decontaminate_fuzzy_planted` lesson.
    * Each plant's PCM body is synthesized here as HEX (bytes ≥ 0x80
    * cannot ride through a UTF-8 string cast — the single-byte-space
    * constraint that parked this key) and replayed in the oracle as
    * an INTEGER sample formula, never a string; both engines then run
    * their full byte/list paths, and the hash match proves the byte
    * decode equals the formula. The set pins every boundary:
    *   +1 pure silence (500×128: both windows silent, partial tail)
    *   +2 energy boundary (400×125: energy = 9·n exactly ⇒ NOT silent)
    *   +3 dither silence (127/129 alternating: energy n ≪ 9n)
    *   +4 clipping (12 rails / 400 = 300 bp > 100)
    *   +5 clip boundary (4 rails / 400 = 100 bp exactly ⇒ NOT clipped)
    *   +6 silence-share boundary (1 silent / 2 windows = 5000 bp ⇒ ok)
    *   +7 precedence (clipped AND silent ⇒ verdict 'clipping') */
  val AudioPlants: Seq[(Long, String)] = Seq(
    1L -> "80" * 500,
    2L -> "7D" * 400,
    3L -> "7F81" * 200,
    4L -> ("00" * 6 + "FF" * 6 + "20" * 388),
    5L -> ("00" * 2 + "FF" * 2 + "20" * 396),
    6L -> ("80" * 400 + "20" * 400),
    7L -> ("00" * 400 + "80" * 1200))

  /** The 44-byte header of [[stageWavPayloads]] for a known body size,
    * as driver-side hex — the plants are compile-time constants, so
    * their headers are too (same fields, same rate formula). */
  private def wavHeaderHex(n: Long): String = {
    def le32(v: Long) = f"${v & 0xFF}%02X${(v >> 8) & 0xFF}%02X" +
      f"${(v >> 16) & 0xFF}%02X${(v >> 24) & 0xFF}%02X"
    val rate = 8000L + 250L * (n % 17)
    "52494646" + le32(n + 36) + "57415645" + "666D7420" + "10000000" +
      "0100" + "0100" + le32(rate) + le32(rate) + "0100" + "0800" +
      "64617461" + le32(n)
  }

  /** The [[AudioPlants]] as a (doc_id, payload) frame through the SAME
    * header convention as the staged corpus — the screens key unions
    * this under the corpus payloads, and the oracle replays the same
    * union (plants are part of the query definition on both engines). */
  def stageWavPlants(s: SparkSession): DataFrame = {
    import s.implicits._
    AudioPlants
      .map { case (i, body) =>
        (AudioPlantBase + i, wavHeaderHex(body.length / 2) + body) }
      .toDF("doc_id", "hex")
      .select(col("doc_id"), unhex(col("hex")).as("payload"))
  }

  /** AUDIO QUALITY SCREENS over staged PCM — the audio members of the
    * ingest-gate family (speech pipelines drop silent and clipped
    * recordings before transcription, exactly as the C4/Gopher gates
    * drop boilerplate text): per document, the silent-window share and
    * the rail-sample (0/255) share in basis points, with a first-fail
    * verdict ('clipping' outranks 'silence' — a clipped recording is
    * unrecoverable, a silent one merely empty). All integer: the
    * silence compare is energy < 9·n per window (no division), the
    * shares truncating div. Runs on the [[graft.functions.PcmWindowStats]]
    * codegen kernel (one byte loop per window, clip count folded into
    * the same pass as energy — no second scan of the PCM).
    *
    * Scale shape: the kernel pass is partition-local (windows explode
    * AFTER the per-window fold's inputs are sliced, output n/400 rows
    * per doc); the per-doc verdict is one partial-aggregated groupBy
    * on doc_id — fixed-width rows, the payload bytes never ride the
    * exchange. */
  def audioScreens(payloads: DataFrame): DataFrame = {
    val win = payloads
      .select(col("doc_id"),
        expr(s"substring(payload, ${WavHeaderBytes + 1})").as("pcm"))
      .select(col("doc_id"), col("pcm"), explode(expr(
        s"sequence(0, CAST(ceil(greatest(length(pcm), 1) / $AudioWindow.0) AS INT) - 1)"))
        .as("win"))
      .select(col("doc_id"),
        graft.functions.PcmOps.pcmWindowStats(
          col("pcm"), col("win").cast("bigint"), AudioWindow).as("st"))
      .select(col("doc_id"),
        col("st.n_samples").as("n_samples"), col("st.energy").as("energy"),
        col("st.n_clip").as("n_clip"))
    win.groupBy("doc_id")
      .agg(sum(col("n_samples")).as("n_samples"),
        count(lit(1)).as("n_windows"),
        sum(when(col("energy") <
          lit(AudioSilenceEnergyPerSample) * col("n_samples"), 1L)
          .otherwise(0L)).as("silent_windows"),
        sum(col("n_clip")).as("clipped_samples"))
      .withColumn("silence_bp",
        expr("silent_windows * 10000 div n_windows"))
      .withColumn("clip_bp",
        expr("clipped_samples * 10000 div greatest(n_samples, 1)"))
      .withColumn("verdict",
        when(col("clip_bp") > AudioClipBpMax, lit("clipping"))
          .when(col("silence_bp") > AudioSilenceShareBp, lit("silence"))
          .otherwise(lit("ok")))
      .orderBy("doc_id")
  }

  /** Unrolled-step bound of the declarative JPEG segment walk in
    * [[metaPlan]]: covers APPn/JFIF/Exif + DQT/DHT preambles of typical
    * files; a SOF deeper than this parses as 0×0 in the PLAN path
    * (the imperative kernel has no bound). */
  val MaxJpegSegs = 8

  /** Declarative metadata extraction over a (doc_id, payload BINARY)
    * frame — the plan-path twin of [[decodePartitions]], entirely
    * codegen'd substring+hex+conv byte arithmetic. The JPEG branch is a
    * BOUNDED SEGMENT WALK ([[MaxJpegSegs]] unrolled steps, each one
    * projection layer so step-k offsets are computed once rather than
    * re-derived exponentially): it follows FF-marker segment lengths
    * exactly like the imperative kernel, so APPn/DQT-first files — not
    * just the staged SOF-first layout — parse identically in both paths
    * (agreement asserted in PipelineSpec on both layouts). */
  def metaPlan(payloads: DataFrame): DataFrame = {
    val p = col("payload")
    // Big-endian unsigned int of `len` bytes at 1-based offset `pos`.
    def be(pos: Int, len: Int): Column =
      conv(hex(substring(p, pos, len)), 16, 10).cast("int")
    // Minimum-length guards mirror the kernel's (decode: n≥24 png,
    // n≥4 jpeg, n≥13 gif): without them a 2-byte FFD8 fragment would
    // classify as jpeg here while the kernel calls it unknown, and a
    // truncated GIF header would read NULL dimensions off the end of
    // the payload (conv(hex('')) is NULL) — breaking both the
    // plan/kernel agreement and the non-null width/height contract.
    val isPng = hex(substring(p, 1, 8)) === "89504E470D0A1A0A" && length(p) >= 24
    val isJpeg = hex(substring(p, 1, 2)) === "FFD8" && length(p) >= 4
    // "GIF8" — the kernel's check: both GIF87a and GIF89a qualify.
    val isGif = hex(substring(p, 1, 4)) === "47494638" && length(p) >= 13
    // JPEG walk state per step k: oK = 1-based offset of the segment's
    // FF byte; vK = every byte visited so far was a real FF marker
    // (matching the kernel's stop-at-garbage semantics — offsets
    // derived from garbage lengths must not produce spurious hits).
    val walked = (1 until MaxJpegSegs).foldLeft(
      payloads
        .withColumn("o1", lit(3L))
        .withColumn("v1", expr("hex(substring(payload, 3, 1)) = 'FF'"))) {
      case (df, k) => df
        .withColumn(s"o${k + 1}", expr(
          s"o$k + 2 + cast(conv(hex(substring(payload, o$k + 2, 2)), 16, 10) as bigint)"))
        .withColumn(s"v${k + 1}", expr(
          s"v$k AND hex(substring(payload, o${k + 1}, 1)) = 'FF'"))
    }
    // A hit at step k: walk still valid, the full frame header is in
    // bounds (the kernel's `i + 9 <= length` loop guard — without it a
    // SOF truncated mid-header would read partial/NULL dims), and the
    // marker byte is SOF0–SOF3. Frame payload: precision(1) at o+4,
    // height BE16 at o+5, width BE16 at o+7 (1-based; mirrors
    // decode()'s 0-based i+5/i+7).
    def sofAt(k: Int): Column = expr(
      s"v$k AND o$k + 8 <= length(payload) AND " +
        s"cast(conv(hex(substring(payload, o$k + 1, 1)), 16, 10) as int) BETWEEN 192 AND 195")
    def dimAt(k: Int, off: Int): Column = expr(
      s"cast(conv(hex(substring(payload, o$k + $off, 2)), 16, 10) as int)")
    val jpegH = coalesce((1 to MaxJpegSegs).map(k =>
      when(sofAt(k), dimAt(k, 5))) :+ lit(0): _*)
    val jpegW = coalesce((1 to MaxJpegSegs).map(k =>
      when(sofAt(k), dimAt(k, 7))) :+ lit(0): _*)
    walked
      .select(col("doc_id"),
        length(p).cast("bigint").as("n_bytes"),
        when(isPng, "png").when(isJpeg, "jpeg").when(isGif, "gif")
          .otherwise("unknown").as("format"),
        when(isPng, be(17, 4)).when(isJpeg, jpegW)
          .when(isGif, be(7, 1) + be(8, 1) * 256)
          .otherwise(lit(0)).cast("int").as("width"),
        when(isPng, be(21, 4)).when(isJpeg, jpegH)
          .when(isGif, be(9, 1) + be(10, 1) * 256)
          .otherwise(lit(0)).cast("int").as("height"))
  }

  /** Perceptual-hash sketch length (60 bits — the md5-fold/simhash bit
    * convention, so chunk widths that divide evenly exist at every
    * derived setting) and the exact-pair hamming radius. */
  val PhashBits = 60
  val PhashHammingMax = 3

  /** Planted-twin fixture for `q_mm_phash`: the first [[PhashPlantCount]]
    * docs are re-staged byte-identically under `doc_id + PhashPlantBase`,
    * guaranteeing hamming-0 pairs at EVERY scale factor — without them
    * the pair set is legitimately empty on a dup-free corpus and the
    * oracle compare is vacuous (the round-11 hole). The oracle SQL
    * replays the same union, so the planted rows are part of the query
    * definition on both engines, exactly like
    * `q_decontaminate_fuzzy_planted`. */
  val PhashPlantBase = 1000000L
  val PhashPlantCount = 3

  /** Chunk width for the banded-hamming block join: the simhash
    * derivation (key space grows with N so block population stays
    * bounded), capped at 15 so at least HammingMax + 1 = 4 chunks
    * exist — the pigeonhole guarantee (two hashes within hamming ≤ 3
    * MUST agree on one of 4+ chunks) that makes the blocking EXACT at
    * the radius. Beyond N ≈ 2¹⁵ × target-block the cap binds and
    * per-block population grows with N/2¹⁵ — the documented trade
    * (widening the radius guarantee vs block size; same tension as
    * every banded sketch here). */
  def phashChunkWidth(n: Long): Int =
    math.min(Dedup.deriveSimhashWidth(n), 15)

  /** TRUE ⟺ appending `batch` docs onto a corpus now counting `n`
    * stepped [[phashChunkWidth]] (both sides include the planted-twin
    * rows the sketch table carries) — THE decline predicate of the
    * phash_cc merge lane; ONE definition shared with the WarehouseSpec
    * decline pin (round-20, ADVICE; the planeBlockCrossed twin). */
  def phashWidthCrossed(n: Long, batch: Long): Boolean =
    phashChunkWidth(n - batch + PhashPlantCount) !=
      phashChunkWidth(n + PhashPlantCount)

  /** IMAGE near-dup via PERCEPTUAL HASH — the multimodal member of the
    * dedup family (training pipelines run exactly this over image
    * corpora: pHash/aHash sketch per image, hamming near-pairs merge).
    * The average-hash over an 8×8 DOWNSAMPLED GRAYSCALE GRID is the
    * textbook aHash; the DECODE-to-pixels step is this container's
    * stubbed seam, so the "grid" is [[PhashBits]] evenly-spaced payload
    * BYTES — real byte plumbing (offsets, sampling, thresholding, the
    * hash fold, the banded join) with the pixel source swappable for a
    * real decoder's luma grid behind the same column contract.
    *
    *   - sample b_k = payload byte at 1 + ⌊(len−1)·k/59⌋ (1-based),
    *     k = 0..59 — substring+hex+conv, fully codegen;
    *   - mean m = (Σ b_k) div 60 (integer floor — exact both engines);
    *   - bit_k = b_k > m; phash = Σ bit_k · 2^k (< 2⁶⁰, sign-safe);
    *   - candidates: block join on (chunk_id, chunk value) over
    *     [[phashChunkWidth]]-bit chunks — identical sketches collide in
    *     every chunk, hamming ≤ [[PhashHammingMax]] pairs in ≥ 1 by
    *     pigeonhole (exact recall at the radius);
    *   - verify: exact `bit_count(a ⊕ b) ≤` radius on candidates only.
    *
    * Scale shape: sketching is one linear pass (the binary drops out
    * after the 60 sampled bytes); the block join shuffles (chunk, id,
    * sketch) rows — 8 B keys, never payloads; verify touches candidate
    * pairs only. Identical to the SimHash text path's economics. */
  def phashSketch(payloads: DataFrame): DataFrame = {
    val byteAt = (k: Int) =>
      s"cast(conv(hex(substring(payload, cast(1 + ((length(payload) - 1) * $k) div 59 as int), 1)), 16, 10) as bigint)"
    val bCols = (0 until PhashBits).map(k => expr(byteAt(k)).as(s"b$k"))
    val meanExpr = (0 until PhashBits).map(k => s"b$k").mkString("(", " + ", s") div $PhashBits")
    val hashExpr = (0 until PhashBits)
      .map(k => s"(CASE WHEN b$k > m THEN ${1L << k}L ELSE 0L END)")
      .mkString(" + ")
    payloads.select(col("doc_id") +: bCols: _*)
      .withColumn("m", expr(meanExpr))
      .select(col("doc_id"), expr(hashExpr).as("phash"))
  }

  /** REAL pixel decode behind the sketch seam — JDK ImageIO (PNG, JPEG,
    * BMP, GIF; no new deps): the payload decodes to pixels and the
    * "grid" is [[PhashBits]] evenly-spaced PIXELS in row-major order —
    * the same ⌊(n−1)·k/59⌋ arithmetic as the byte path, over integer
    * luma (⌊(299R + 587G + 114B)/1000⌋) instead of raw bytes. A payload
    * ImageIO cannot decode (the staged synthetic corpus, truncated
    * files, audio/video containers) is None — callers fall back to
    * [[byteSamples]], which is why the registered query's answer is
    * identical with or without a decoder present. */
  def lumaSamples(payload: Array[Byte],
                  bits: Int = PhashBits): Option[Array[Int]] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
      else {
        val w = img.getWidth
        val npix = w.toLong * img.getHeight
        Some(Array.tabulate(bits) { k =>
          val p = ((npix - 1) * k / (bits - 1)).toInt
          val rgb = img.getRGB(p % w, p / w)
          val r = (rgb >> 16) & 0xFF
          val g = (rgb >> 8) & 0xFF
          val b = rgb & 0xFF
          (299 * r + 587 * g + 114 * b) / 1000
        })
      }
    } catch { case _: Exception => None }

  /** Kernel twin of [[phashSketch]]'s byte sampling: payload byte at
    * 1 + ⌊(len−1)·k/59⌋ (1-based), unsigned. */
  def byteSamples(payload: Array[Byte],
                  bits: Int = PhashBits): Array[Int] =
    Array.tabulate(bits) { k =>
      payload(((payload.length - 1).toLong * k / (bits - 1)).toInt) & 0xFF
    }

  /** The aHash fold shared by both sample sources: mean-threshold the
    * samples, set bit k iff sample k clears the integer-floor mean —
    * term for term the arithmetic of [[phashSketch]]'s SQL. */
  def phashOf(samples: Array[Int]): Long = {
    val m = samples.foldLeft(0L)(_ + _) / samples.length
    var acc = 0L
    var k = 0
    while (k < samples.length) {
      if (samples(k) > m) acc |= 1L << k
      k += 1
    }
    acc
  }

  /** Partition-local DECODED sketch: pixel luma where ImageIO decodes,
    * sampled bytes where it can't — same (doc_id, phash) contract as
    * the declarative [[phashSketch]], so [[phashPairsFrom]] (and any
    * consumer of the sketch column) is source-agnostic. mapPartitions
    * batches the decoder per partition like [[decodePartitions]];
    * payloads never shuffle, the binary drops at the sketch. */
  def phashSketchDecoded(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (id, phashOf(lumaSamples(bytes).getOrElse(byteSamples(bytes))))
      })
      .toDF("doc_id", "phash")
  }

  /** REAL pixel ENCODE for the decoded-sketch round trip: render a
    * document to a genuine n×1 truecolor PNG where pixel p (row-major)
    * carries the text's byte p in all three channels. Two exactness
    * facts make the downstream sketch oracle-replayable from the text
    * alone: PNG is lossless, and the integer luma of a gray pixel is
    * the identity — ⌊(299v + 587v + 114v)/1000⌋ = v, since the weights
    * sum to exactly 1000. TYPE_INT_RGB (not TYPE_BYTE_GRAY, whose
    * getRGB runs a non-identity gray→sRGB color-space conversion). */
  def encodeGrayPng(text: String): Array[Byte] =
    encodeGrayPixels(text.toCharArray.map(_ & 0xFF))

  /** The general gray-strip encoder behind [[encodeGrayPng]]: render a
    * value array as a REAL n×1 image (value in all three channels —
    * the luma-identity trick), in any ImageIO-writable container.
    * Empty input renders the 1-pixel zero strip.
    *
    * Orientation (round-21, guide §1.2 per-task work): the strip is
    * ONE ROW of n pixels, not n rows of one — PNG processes per
    * SCANLINE (filter byte + row buffer per row), so the 1×n layout
    * paid n scanline passes where n×1 pays one (measured 10× on the
    * encode, same on the JDK decoder's first pass). Row-major pixel
    * order is identical in both layouts, so every decoded luma
    * sequence — and with it every registered output — is unchanged. */
  def encodeGrayPixels(pix: Array[Int],
                       format: String = "png"): Array[Byte] = {
    val n = math.max(pix.length, 1)
    val img = new java.awt.image.BufferedImage(
      n, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // Direct raster fill (round-21, guide §1.2 per-task work): the
    // INT_RGB raster is one packed int per pixel, so writing the
    // backing buffer stores bit-for-bit what setRGB stores (setRGB
    // masks to the same 24 bits) without n per-pixel color-model
    // dispatches.
    val data = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    var i = 0
    while (i < n) {
      val v = if (pix.isEmpty) 0 else pix(i) & 0xFF
      data(i) = (v << 16) | (v << 8) | v
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** FULL-image luma decode (the [[lumaSamples]] kernel without the
    * sampling): every pixel's integer luma in row-major order — the
    * source rows an executed resize resamples. None where ImageIO
    * cannot decode. */
  def lumaPixels(payload: Array[Byte]): Option[Array[Int]] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        // ONE bulk getRGB (round-21, guide §1.2): the array form runs
        // the identical per-pixel color-model conversion as the scalar
        // call — same values — minus w·h synchronized dispatches and
        // the per-pixel modulo arithmetic.
        val rgbs = img.getRGB(0, 0, w, h, null, 0, w)
        val out = new Array[Int](w * h)
        var p = 0
        while (p < out.length) {
          val rgb = rgbs(p)
          out(p) = (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF)
            + 114 * (rgb & 0xFF)) / 1000
          p += 1
        }
        Some(out)
      }
    } catch { case _: Exception => None }

  /** Output strip height for the EXECUTED resize — [[PhashBits]] rows,
    * so the resized strip's aHash fold reuses [[phashOf]] verbatim. */
  val ResizeOutH: Int = PhashBits

  /** Nearest-neighbor resample to `outH` rows: out j = src row
    * ⌊(n−1)·j/(outH−1)⌋ — the same floor arithmetic every sampler in
    * this file uses, so the DuckDB twin replays it in list space.
    * Works in both directions (downscale and upscale); n = 1
    * degenerates to a constant strip. */
  def resizeNearest(src: Array[Int], outH: Int): Array[Int] = {
    require(outH >= 2, s"resize target must be >= 2 rows (got $outH)")
    Array.tabulate(outH)(j =>
      src(((src.length - 1).toLong * j / (outH - 1)).toInt))
  }

  /** EXECUTED RESIZE through the real codec seam — `q_mm_resize` is
    * the geometry plan; THIS runs the pixels: decode the payload
    * (ImageIO), nearest-neighbor resample to [[ResizeOutH]] rows,
    * RE-ENCODE the result as a genuine PNG (the resize's output
    * artifact), decode that second PNG again, and emit the round-
    * tripped strip's pixel sum + aHash fold. On [[renderedPayloads]]
    * the luma identity + PNG losslessness make every hop a pure
    * function of the text bytes, so a DuckDB hash match PROVES both
    * encodes, both decodes and the resample all executed — any hop
    * falling back to container bytes diverges on every row (the
    * q_mm_phash_decoded proof pattern, extended through a second
    * encode). Partition-local end to end; binaries never shuffle. */
  def resizeExec(payloads: DataFrame,
                 outH: Int = ResizeOutH): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val src = lumaPixels(bytes).getOrElse(bytes.map(_ & 0xFF))
        val out = resizeNearest(src, outH)
        val back = lumaPixels(encodeGrayPixels(out))
          .getOrElse(Array.fill(outH)(0))
        (id, src.length, outH, back.foldLeft(0L)(_ + _), phashOf(back))
      })
      .toDF("doc_id", "src_h", "out_h", "pix_sum", "rhash")
  }

  /** (doc_id, payload) of REAL PNGs rendered by [[encodeGrayPng]] —
    * partition-local like every decode step; the binary never
    * shuffles (the sketch immediately follows in the same stage). */
  def renderedPayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, encodeGrayPng(t)) })
      .toDF("doc_id", "payload")
  }

  /** [[resizeExec]] ∘ [[renderedPayloads]] FUSED into one partition-
    * local pass (round-21, guide §1.2 per-task work): the rendered PNG
    * bytes feed the decoder inside the same closure, so the payload no
    * longer round-trips through an InternalRow between two
    * MapPartitions operators (the measured before plan serialized +
    * deserialized every binary once just to cross the operator
    * boundary). Same hops — encode, decode, resample, re-encode,
    * re-decode — same arithmetic, same hashes. */
  def resizeExecRendered(docs: DataFrame,
                         outH: Int = ResizeOutH): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val bytes = encodeGrayPng(t)
        val src = lumaPixels(bytes).getOrElse(bytes.map(_ & 0xFF))
        val out = resizeNearest(src, outH)
        val back = lumaPixels(encodeGrayPixels(out))
          .getOrElse(Array.fill(outH)(0))
        (id, src.length, outH, back.foldLeft(0L)(_ + _), phashOf(back))
      })
      .toDF("doc_id", "src_h", "out_h", "pix_sum", "rhash")
  }

  /** [[phashSketchDecoded]] ∘ [[renderedPayloads]] fused the same way
    * (round-21): one MapPartitions, the PNG exists only inside the
    * closure. Identical (doc_id, phash) contract. */
  def phashSketchDecodedRendered(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val bytes = encodeGrayPng(t)
        (id, phashOf(lumaSamples(bytes).getOrElse(byteSamples(bytes))))
      })
      .toDF("doc_id", "phash")
  }

  /** Banded-hamming near-pairs over [[phashSketch]] sketches. */
  def phashPairs(payloads: DataFrame, chunkWidth: Int,
                 hammingMax: Int = PhashHammingMax): DataFrame =
    phashPairsFrom(phashSketch(payloads), chunkWidth, hammingMax)

  /** [[phashChunkWidth]]-bit chunk rows of a (doc_id, phash) sketch
    * frame — the banded-join key derivation shared by the batch and
    * incremental pair paths. */
  private def phashChunks(sk: DataFrame, chunkWidth: Int): DataFrame = {
    val nChunks = PhashBits / chunkWidth
    sk.select(col("doc_id"), col("phash"), explode(expr(
      s"""transform(sequence(0, ${nChunks - 1}),
            c -> named_struct('c', c,
                   'v', (phash div shiftleft(cast(1 as bigint), $chunkWidth * c))
                        % ${1L << chunkWidth}L))""")).as("ch"))
      .select(col("doc_id"), col("phash"),
        col("ch.c").as("c"), col("ch.v").as("v"))
  }

  /** Banded-hamming near-pairs over ANY (doc_id, phash) sketch frame —
    * the declarative byte sketch and the ImageIO-decoded kernel sketch
    * flow through the same blocking and verify. */
  def phashPairsFrom(sk: DataFrame, chunkWidth: Int,
                     hammingMax: Int = PhashHammingMax): DataFrame = {
    val chunks = phashChunks(sk, chunkWidth)
    chunks.as("a").join(chunks.as("b"), Seq("c", "v"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(expr("a.phash ^ b.phash")).as("hamming"))
      // Filter BEFORE distinct: a pair colliding in several chunks
      // duplicates, but only in-radius pairs need the dedup shuffle —
      // filtering first cuts the distinct's input from all candidate
      // collisions to the (tiny) within-radius set.
      .filter(col("hamming") <= hammingMax)
      .distinct()
  }

  /** INCREMENTAL image near-dup ingest — the multimodal member of the
    * incremental family (exact/minhash/CC/semantic/verbatim/decontam
    * all have one; production image pipelines ingest batches the same
    * way). The corpus side is the chunk index a production pipeline
    * persists; an arriving batch chunks its own sketches and
    * band-joins against index ∪ own-chunks, so every candidate touches
    * a batch image by construction and corpus×corpus is never joined.
    * The index is planned inline: its scan is linear, and a per-call
    * checkpoint would run an eager job and leave a persisted RDD behind
    * on every call. Verify is inline —
    * the chunk rows carry both sketches, so exact `bit_count(a ⊕ b)`
    * needs no fetch join. Pigeonhole-exactness of the blocking makes
    * the output EQUAL to the full recompute restricted to
    * batch-touching pairs — the oracle proves it. Per-batch cost:
    * batch sketching (linear) + a band join whose left side is the
    * batch's chunks. */
  def phashPairsIncremental(sk: DataFrame, batchPred: Column,
                            chunkWidth: Int,
                            hammingMax: Int = PhashHammingMax): DataFrame = {
    val index = phashChunks(sk.filter(!batchPred), chunkWidth)
    val batchChunks = phashChunks(sk.filter(batchPred), chunkWidth)
    batchChunks.as("a")
      .join(index.unionByName(batchChunks).as("b"), Seq("c", "v"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      // least/greatest orientation: batch-batch collisions arrive in
      // both orders, batch-corpus in one — normalize then dedupe.
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        bit_count(expr("a.phash ^ b.phash")).as("hamming"))
      .filter(col("hamming") <= hammingMax)
      .distinct()
  }

  /** The registered phash pair query body (docs + planted twins →
    * banded pairs) — shared by `q_mm_phash` and the cluster view.
    * The twins are byte-identical re-keys, so their SKETCHES are the
    * originals' sketches re-keyed — derived from the sketch frame,
    * not re-staged, which halves the plan's corpus scans (the banded
    * self-join evaluates its input once per side; re-staging the
    * twins from documents would scan the corpus 4×, plan-asserted
    * down to 2 in PlanShapeSpec). */
  private def phashPairsQuery(s: SparkSession, dir: String): DataFrame = {
    val (sk, width) = phashSketchWithTwins(s, dir)
    phashPairsFrom(sk, width)
  }

  /** The corpus+twins sketch frame and its derived chunk width — the
    * shared front end of every phash family member. The DECODED sketch
    * frame is the product of the corpus decode pass — the single most
    * expensive compute in the image family at lake scale — so it
    * persists through the warehouse keyed on the documents fingerprint
    * (round-17, the verdict's phash_ivf_trained warm>cold fix at its
    * root): a warm process reads (doc_id, phash) 16-byte rows off the
    * registered table and never stages or decodes a payload; a cold
    * one pays the decode exactly once for ALL consumers (pairs,
    * search, truth, both quantizers, CC) instead of once per plan.
    * This IS the production sketch store: 100 TB of images reduce to
    * a per-image fixed-width sketch written at ingest. */
  private def phashSketchWithTwins(
      s: SparkSession, dir: String): (DataFrame, Int) = {
    val docs = Tables.documents(s, dir)
    val n = graft.sources.Warehouse.corpusStats(s, dir, "documents")._1
    // Sketch + twin re-key are both PER-DOC functions, so the store
    // joins the append-merge lane (round-18): a corpus-growth step
    // decodes ONLY the new part files' payloads — the whole point of a
    // sketch store at lake scale, where the decode is the dominant
    // ingest cost and re-decoding settled images on every append would
    // dwarf every other build.
    def sketchOf(d: DataFrame): DataFrame = {
      val base = phashSketch(
        stagePayloadsFrom(d.select(col("doc_id"), col("text"))))
      // The planted twins are byte-identical re-keys: their sketches
      // are the originals' re-keyed, derived INSIDE the build so the
      // persisted store carries the full corpus+twins universe.
      base.unionByName(base.filter(col("doc_id") < PhashPlantCount)
        .select((col("doc_id") + PhashPlantBase).as("doc_id"),
          col("phash")))
    }
    val sk = Artifacts.cached(s, s"phash-sketch:$dir")(
      graft.sources.Warehouse.servedFrameMerged(
        s, "phash_sketch", dir, "documents", docsFp(s, dir))(
        sketchOf(docs))(
        (old, batch) => Some(old.unionByName(sketchOf(batch)))))
    (sk, phashChunkWidth(n + PhashPlantCount))
  }

  /** STREAMING image-dup gate — the multimodal tier of the ingest door
    * (the gate family: quality → shingle → semantic → THIS): drop an
    * arriving image whose DECODED sketch lands within `hammingMax` of
    * any index sketch. The index (a blocklist, or the sketch set of the
    * already-ingested corpus) broadcasts once per executor — the
    * contaminationGate asymmetry: the frozen side is small and rides a
    * broadcast, the stream side never shuffles. The per-row UDF is
    * justified exactly like semanticGate's: the probe needs the
    * broadcast array + the ImageIO kernel, neither expressible as a
    * Column; the linear scan is right for gate-sized indexes (swap in
    * a banded chunk-bucket broadcast map when the index outgrows it).
    * Stateless: no streaming state, replay-safe, composable with the
    * other gates in front of an exactly-once sink. Empty payloads pass
    * (not duplicates — the quality tier owns degenerate-input drops).
    */
  def phashGate(stream: DataFrame, indexSketches: Seq[Long],
                hammingMax: Int = PhashHammingMax): DataFrame = {
    val bc = stream.sparkSession.sparkContext.broadcast(indexSketches.toArray)
    val dup = udf((payload: Array[Byte]) =>
      payload != null && payload.nonEmpty && {
        val h = phashOf(lumaSamples(payload).getOrElse(byteSamples(payload)))
        val idx = bc.value
        var i = 0
        var hit = false
        while (!hit && i < idx.length) {
          hit = java.lang.Long.bitCount(idx(i) ^ h) <= hammingMax
          i += 1
        }
        hit
      })
    stream.filter(!dup(col("payload")))
  }

  /** Image RETRIEVAL probe/answer sizes: the first [[PhashProbeCount]]
    * corpus images query for their [[PhashTopK]] hamming-nearest
    * neighbors. */
  val PhashProbeCount = 5
  val PhashTopK = 5

  /** Hamming top-k image SEARCH — the retrieval member of the
    * multimodal family (dedup answers "what duplicates exist",
    * retrieval answers "what is nearest to THIS image"): exact
    * brute-force bit_count distance from each probe sketch to every
    * corpus sketch, ranked (hamming asc, doc_id asc) per probe. The
    * q_knn_topk economics: probes BROADCAST, the corpus never
    * shuffles, and the map-side-combining TopK aggregator carries at
    * most k × probes × partitions rows to the reduce side. This is
    * the exact audit reference; a radius-bounded sublinear variant
    * goes through [[phashChunks]] exactly like the pair keys (the
    * banded index is the scale path, the brute scan the truth). */
  def phashSearch(sk: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val scored = sk.crossJoin(broadcast(probes))
      .select(col("probe_id"),
        (lit(PhashBits) - bit_count(expr("phash ^ probe_hash")))
          .cast("bigint").as("score"),
        col("doc_id"))
    graft.functions.TopK.perKey(scored, "probe_id", "score", "doc_id", k)
      .select(col("probe_id"), col("doc_id"),
        (lit(PhashBits) - col("score")).cast("int").as("hamming"),
        col("rk"))
  }

  /** Cells a probe searches in the hamming IVF — the [[PhashBits]]-bit
    * analogue of Similarity.IvfNprobe: 1 = assigned cell only, each
    * increment adds ~corpus/K candidates and recovers neighbors just
    * across a cell boundary. */
  val PhashIvfNprobe = 2

  /** First-K hamming-cell centroids: the sketches of doc_id < kk, cid =
    * doc_id — the deterministic seeding every oracle-checked quantizer
    * here uses (Similarity.lloydCentroids seeds the same way), so the
    * DuckDB twin replays the cell set from the same predicate. */
  def phashIvfCells(sk: DataFrame, kk: Int): DataFrame =
    sk.filter(col("doc_id") < kk)
      .select(col("doc_id").as("cid"), col("phash").as("cent"))

  /** Hamming-space IVF over phash sketches — the SUBLINEAR image
    * retrieval path (`q_mm_phash_search` is the exact brute reference
    * it audits against): cluster the sketch universe into K first-K
    * hamming cells, search only each probe's [[PhashIvfNprobe]] nearest
    * cells. FAISS's binary IVF (IndexBinaryIVF) is exactly this shape.
    *
    *   - assignment: argmin cell by (bit_count(phash ^ cent), cid) — a
    *     partial-aggregating min_by over the BROADCAST centroid join,
    *     so the wire carries corpus rows, not corpus×K (the
    *     Similarity.assignCells economics in hamming space);
    *   - probe→cell ranking: same metric, same tie rule, through the
    *     map-side TopK aggregator (score = PhashBits − hamming so the
    *     (score desc, id asc) order IS (hamming asc, cid asc)), so
    *     nprobe = 1 reproduces the assigned cell exactly;
    *   - search: probes + their cell lists BROADCAST against the
    *     cell-keyed assignment index; candidates = the probed cells'
    *     members only (~nprobe/K of the corpus); exact bit_count
    *     scoring; map-side TopK.
    *
    * Scale shape: the index is (cell, doc_id, phash) — 100 TB of
    * images reduce to ~20 B/row; persisted it buckets by cell exactly
    * like writeIvfPqIndex (plan-time pruning to nprobe buckets); the
    * corpus never shuffles on the query path. Recall is audited by
    * `q_mm_phash_ivf_recall` (planted twins sketch-identical to their
    * originals assign to the SAME cell, so nprobe=1 already finds
    * them at hamming 0 — the audit's floor is structural). */
  def phashIvfSearch(sk: DataFrame, nProbes: Int, k: Int, kk: Int,
                     nprobe: Int = PhashIvfNprobe): DataFrame = {
    val cents = phashIvfCells(sk, kk)
    phashIvfServe(phashIvfAssign(sk, cents), cents, nProbes, k, nprobe)
  }

  /** BUILD step: argmin cell assignment over the broadcast centroid
    * join — the index a production pipeline writes once (cell-bucketed,
    * the writeIvfPqIndex shape) and every query serves from. Billed as
    * its own Bench artifact row via [[warmPhashIvfIndex]]: assignment
    * is N×K bit_counts, the one linear-in-corpus pass of the family. */
  def phashIvfAssign(sk: DataFrame, cents: DataFrame): DataFrame =
    sk.join(broadcast(cents))
      .withColumn("cd", bit_count(expr("phash ^ cent")))
      .groupBy(col("doc_id"))
      .agg(first(col("phash")).as("phash"),
        min_by(col("cid"), struct(col("cd"), col("cid"))).as("cell"))

  /** SERVE step over a prebuilt assignment index: probe→cell ranking +
    * cell-restricted exact scoring — ~nprobe·N/K candidates per probe,
    * never the corpus. Probes are the first `nProbes` index rows. */
  def phashIvfServe(assigned: DataFrame, cents: DataFrame,
                    nProbes: Int, k: Int,
                    nprobe: Int = PhashIvfNprobe): DataFrame = {
    val probes = assigned.filter(col("doc_id") < nProbes)
      .select(col("doc_id").as("probe_id"), col("phash").as("probe_hash"))
    val cands = assigned.select(col("cell"), col("doc_id").as("cand_id"),
      col("phash").as("cand_hash"))
    phashIvfSearchFrom(probes, cands, cents, k, nprobe)
  }

  /** Per-probe top-`nprobe` cell ranking over the broadcast centroid
    * set — THE one definition of which cells a probe searches (the
    * probeCells rule in hamming space): score = PhashBits − hamming so
    * the TopK (score desc, id asc) order IS (hamming asc, cid asc),
    * the assignment tie rule — nprobe = 1 reproduces the assigned
    * cell. */
  private def phashIvfRankCells(probes: DataFrame, cents: DataFrame,
                                nprobe: Int): DataFrame = {
    val cellScores = probes.join(broadcast(cents))
      .select(col("probe_id"),
        (lit(PhashBits) - bit_count(expr("probe_hash ^ cent")))
          .cast("bigint").as("score"),
        col("cid"))
    graft.functions.TopK
      .perKey(cellScores, "probe_id", "score", "cid", nprobe)
      .select(col("probe_id"), col("cid").as("cell"))
  }

  /** The shared serve tail: probed cells' members scored exactly,
    * map-side TopK. `cands` is the LEFT side of the join so a
    * fork-rooted pruned index read keeps its planning session (the
    * ivfTrainedServe rule). */
  private def phashIvfSearchFrom(probes: DataFrame, cands: DataFrame,
                                 cents: DataFrame, k: Int,
                                 nprobe: Int): DataFrame = {
    // probes is nProbes rows — broadcast it so the (probe, cell)
    // re-attach can never plan a shuffle join of two tiny frames.
    val withHash = phashIvfRankCells(probes, cents, nprobe)
      .join(broadcast(probes), Seq("probe_id"))
    val scored = cands.join(broadcast(withHash), Seq("cell"))
      .select(col("probe_id"),
        (lit(PhashBits) - bit_count(expr("cand_hash ^ probe_hash")))
          .cast("bigint").as("score"),
        col("cand_id"))
    graft.functions.TopK.perKey(scored, "probe_id", "score", "cand_id", k)
      .select(col("probe_id"), col("cand_id").as("doc_id"),
        (lit(PhashBits) - col("score")).cast("int").as("hamming"),
        col("rk"))
  }

  /** ONE (centroids, assigned-index) resolution per (session, dir),
    * BOTH warehouse-backed (round-17 unification — previously the
    * in-memory artifacts and the persisted serving tables were built
    * separately, so a process whose table HIT still paid the in-memory
    * assignment, which is exactly the phash_ivf_trained warm>cold
    * inversion the round-16 ledger flagged): the centroids persist as
    * the `phash_cents` table and the (doc_id, phash, cell) assignment
    * as the cell-bucketed `phash_ivf` table — the TABLE is the
    * in-memory artifact; every consumer (in-memory serve, persisted
    * pruned serve, trained build's round 0) reads the same bytes.
    * Cell count K = ⌈√N⌉ (the Similarity rule). */
  private def phashIvfArtifacts(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val fp = docsFp(s, dir)
    val cents = Artifacts.cached(s, s"phash-ivf-cents:$dir") {
      graft.sources.Warehouse.servedFrame(s, "phash_cents", dir, fp) {
        val (sk, _) = phashSketchWithTwins(s, dir)
        val n = graft.sources.Warehouse.corpusStats(s, dir, "documents")._1 +
          PhashPlantCount
        phashIvfCells(sk, math.ceil(math.sqrt(n.toDouble)).toInt)
      }.localCheckpoint(true)
    }
    val table = graft.sources.Warehouse.tableName("phash_ivf", dir, fp)
    val assigned = Artifacts.cached(s, s"phash-ivf-index:$dir") {
      graft.sources.Warehouse.servedTable(
        s, "phash_ivf", dir, fp,
        bucket = Some(("cell", PhashIdxBuckets))) { name =>
        val (sk, _) = phashSketchWithTwins(s, dir)
        graft.sources.Sinks.writeBucketed(
          phashIvfAssign(sk, cents)
            .select(col("doc_id"), col("phash"), col("cell")),
          name, "cell", PhashIdxBuckets)
      }
      s.table(table) // the persisted table IS the materialized artifact
    }
    (cents, assigned)
  }

  /** Training rounds for the majority quantizer — the LloydIters
    * convention: a small constant; each round is one broadcast-centroid
    * assignment pass + one (cell, bit) partial aggregate. */
  val PhashTrainIters = 2

  /** The deterministic TRAINED hamming quantizer — BINARY k-means
    * (k-majority): the hamming-space analogue of
    * Similarity.lloydCentroids, expressed so a DuckDB oracle replays
    * training bit for bit:
    *
    *   - seed = the first-K cells ([[phashIvfCells]] — the same
    *     artifact the untrained keys serve, so improvement is
    *     attributable to training alone);
    *   - assignment = the standard argmin (bit_count hamming, ties to
    *     lowest cid — identical rule to serving);
    *   - update = per-cell per-bit MAJORITY VOTE (bit set iff
    *     2·ones > members; the exact minimizer of total hamming
    *     distance to the members, ties to 0 — deterministic);
    *   - empty cells keep their previous centroid (the Lloyd rule).
    *
    * Scale shape: each round is one broadcast-centroid linear
    * assignment + one (cell, bit) partial-aggregating sum (60 rows per
    * sketch, map-side combined) + a K-row rebuild; the corpus never
    * shuffles wide rows. localCheckpoint cuts per-round lineage. */
  def phashMajorityCentroids(sk: DataFrame, kk: Int,
                             iters: Int = PhashTrainIters): DataFrame = {
    val cents0 = phashIvfCells(sk, kk).localCheckpoint(true)
    phashMajorityCentroidsFrom(
      phashIvfAssign(sk, cents0).localCheckpoint(true), cents0, iters)
  }

  /** The training loop over a PREBUILT round-0 assignment — the build
    * saver (round 15): the seed centroids are the first-K cells, which
    * is exactly what the UNTRAINED index assigns under, so the cached
    * `phash-ivf-index` artifact IS round 0's assignment. Reusing it
    * drops one full N×K assignment pass AND every corpus re-sketch
    * from the trained build (each round previously re-ran the sketch
    * pipeline from `documents`; now all rounds read the checkpointed
    * (doc_id, phash, cell) frame). Arithmetic is round-for-round the
    * original: vote on the round-i assignment, rebuild, re-assign —
    * so the trained oracle hashes are unchanged by construction. */
  def phashMajorityCentroidsFrom(assigned0: DataFrame, cents0: DataFrame,
                                 iters: Int = PhashTrainIters): DataFrame = {
    val skFrame = assigned0.select(col("doc_id"), col("phash"))
    var cents = cents0
    for (i <- 0 until iters) {
      val asg = if (i == 0) assigned0 else phashIvfAssign(skFrame, cents)
      val perBit = asg
        .select(col("cell"), explode(expr(
          s"""transform(sequence(0, ${PhashBits - 1}),
                b -> named_struct('b', b,
                       'v', (phash div shiftleft(cast(1 as bigint), b)) % 2))"""))
          .as("x"))
        .groupBy(col("cell"), col("x.b").as("b"))
        .agg(sum(col("x.v")).as("ones"), count(lit(1)).as("n"))
      val refreshed = perBit
        .select(col("cell"),
          when(col("ones") * 2 > col("n"),
            expr("shiftleft(cast(1 as bigint), b)")).otherwise(0L).as("bit"))
        .groupBy(col("cell")).agg(sum(col("bit")).as("cn"))
      cents = cents
        .join(refreshed.select(col("cell").as("cid"), col("cn")),
          Seq("cid"), "left")
        .select(col("cid"), coalesce(col("cn"), col("cent")).as("cent"))
        .localCheckpoint(true)
    }
    cents
  }

  /** Buckets for the persisted image index — comfortably above the
    * nprobe cells any one query touches, so plan-time bucket pruning
    * has skippable files to skip (the TrainedIdxBuckets rule). */
  val PhashIdxBuckets = 16

  /** Corpus fingerprint for the persisted image-index lifecycle —
    * the shared documents-table stamp (path digest + data fingerprint
    * in the table name, so a renamed/symlinked dir reuses the table
    * and a mutated corpus can never be served stale). */
  private def docsFp(s: SparkSession, dir: String): String =
    graft.sources.Warehouse.docsFp(s, dir)

  /** The (centroid frame, index TABLE NAME) view of
    * [[phashIvfArtifacts]] — the pruned-serving entry point: cell is
    * both the bucket key and the only predicate a probe needs, so a
    * query reads nprobe buckets, never the table (plan-time bucket
    * pruning, AnnIndexSpec-asserted). One lifecycle since round-17:
    * resolving this IS resolving the in-memory artifacts. */
  private def phashIvfTableArtifacts(
      s: SparkSession, dir: String): (DataFrame, String) = {
    val (cents, _) = phashIvfArtifacts(s, dir)
    (cents, graft.sources.Warehouse.tableName(
      "phash_ivf", dir, docsFp(s, dir)))
  }

  /** SERVE from the persisted bucketed table: probe→cell ranking over
    * the tiny driver-resident centroid artifact, the ranked cell ids
    * become LITERALS in the index read (plan-time bucket pruning —
    * SelectedBucketsCount, plan-asserted in AnnIndexSpec), scoring and
    * TopK identical to the in-memory path, so the served answer is
    * byte-equal (the `q_mm_phash_ivf_served` oracle is the SAME SQL as
    * `q_mm_phash_ivf` — one hash pins in-memory == persisted ==
    * replay). The one `.collect()` is the ≤ nProbes × nprobe cell
    * list; the pruned read rides a forked serving session carrying
    * `autoBucketedScan.enabled=false` (the ivfTrainedServe conf story:
    * pruning-only bucketed reads get planned away under the default,
    * and the caller's session conf must never change). */
  def phashIvfServePersisted(s: SparkSession, dir: String, nProbes: Int,
                             k: Int,
                             nprobe: Int = PhashIvfNprobe): DataFrame =
    // POLICY-ROUTED: serve whichever quantizer the recall audit
    // selected ([[phashIvfPolicy]]) — the engine measures both recalls;
    // serving the loser was the gap the policy closes.
    phashIvfServePersistedAs(s, dir, phashIvfSelectedQuantizer(s, dir),
      nProbes, k, nprobe)

  /** The quantizer-explicit persisted serve (the policy route's body,
    * public so the spec can drive BOTH tables regardless of which one
    * the live corpus's policy picks). */
  def phashIvfServePersistedAs(s: SparkSession, dir: String,
                               quantizer: String, nProbes: Int, k: Int,
                               nprobe: Int = PhashIvfNprobe): DataFrame = {
    val (cents, table) =
      if (quantizer == "trained") phashIvfTrainedTableArtifacts(s, dir)
      else phashIvfTableArtifacts(s, dir)
    // Probes come from the PERSISTED index itself, not a fresh corpus
    // sketch pass — serving must never rescan documents (the index IS
    // the sketch store; production probes arrive as queries). Reading
    // them off the table rather than the in-memory assignment artifact
    // keeps a warehouse-HIT serve fully decode-free: the only inputs
    // are the registered table and the K-row centroid table.
    val probes = s.table(table).filter(col("doc_id") < nProbes)
      .select(col("doc_id").as("probe_id"), col("phash").as("probe_hash"))
    val cellList = phashIvfRankCells(probes, cents, nprobe)
      .select(col("cell")).distinct().collect().map(_.getLong(0)).sorted
    val serve = s.newSession()
    serve.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val index = serve.table(table).filter(col("cell").isin(cellList: _*))
      .select(col("cell"), col("doc_id").as("cand_id"),
        col("phash").as("cand_hash"))
    phashIvfSearchFrom(probes, index, cents, k, nprobe)
  }

  /** Build the shared hamming-IVF index (in-memory assignment AND the
    * persisted bucketed table) NOW — Bench's explicit artifact-build
    * row (the warmTrainedIndex accounting rule). */
  def warmPhashIvfIndex(s: SparkSession, dir: String): Unit = {
    phashIvfTableArtifacts(s, dir)
    ()
  }

  /** ONE (trained centroids, trained assignment) resolution per
    * (session, dir), warehouse-backed like the untrained pair
    * (round-17): the trained centroids persist as `phash_tr_cents` and
    * the trained assignment as the cell-bucketed `phash_ivf_tr` table.
    * A warm process registers + reads both — it re-runs NEITHER the
    * majority-vote training NOR the re-assignment (and, through the
    * persisted untrained artifacts and sketch store, never decodes the
    * corpus) — closing the round-16 ledger's warm>cold inversion on
    * this build. Cold, the untrained artifacts ARE the trained build's
    * inputs: cents0 is the shared first-K seed and the persisted
    * assignment is round 0's (identical centroids ⟹ identical argmin),
    * so training touches neither `documents` nor the sketch pipeline
    * again. */
  private def phashIvfTrainedArtifacts(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val fp = docsFp(s, dir)
    val n = graft.sources.Warehouse.corpusStats(s, dir, "documents")._1
    // RETRAIN CYCLE (round-20): the Similarity.trainedIndexArtifacts
    // convention mirrored into hamming space — the trained centroid
    // table records its trained-at count; a below-ratio growth step
    // REUSES the quantizer (majority-vote training skipped) and the
    // assignment index append-MERGES (delta sketches assigned at the
    // fixed centroids — the sketch store's merge lane already decoded
    // only the new part files); a past-ratio step retrains from the
    // current untrained chain and declines the merge (cold reassign).
    val centsTable = graft.sources.Warehouse.tableName(
      "phash_tr_cents", dir, fp)
    val cents = Artifacts.cached(s, s"phash-ivf-trained-cents:$dir") {
      val prior: Option[DataFrame] =
        if (graft.sources.Warehouse.variantComplete(s, centsTable)) None
        else graft.sources.Warehouse
          .newestVariant(s, "phash_tr_cents", dir, excluding = centsTable)
          .flatMap { case (pname, path) =>
            val t = s.read.parquet(path)
            if (!t.columns.contains("trained_n")) None // pre-cycle table
            // Reuse requires the append-only witness too (round-21,
            // ADVICE — the Similarity.trainedIndexArtifacts rule): a
            // non-append rewrite within the count ratio must retrain.
            else if (!graft.sources.Warehouse.appendOnlyFrom(
              s, dir, "documents", pname)) None
            else {
              val eager = t.localCheckpoint(true) // GC deletes the files
              val tn = eager.agg(max(col("trained_n"))).head().getLong(0)
              if (n < Similarity.RetrainGrowthRatio * tn &&
                  tn < Similarity.RetrainGrowthRatio * n) Some(eager)
              else None
            }
          }
      val listed = graft.sources.Warehouse.corpusFiles(s, dir, "documents")
      val (cname, _) = graft.sources.Warehouse.servedTable(
        s, "phash_tr_cents", dir, fp, bucket = None) { name =>
        prior.getOrElse {
          val (cents0, assigned0) = phashIvfArtifacts(s, dir)
          phashMajorityCentroidsFrom(assigned0, cents0)
            .withColumn("trained_n", lit(n))
        }.write.mode("overwrite").format("parquet").saveAsTable(name)
        graft.sources.Warehouse.writeStoreManifest(
          s, dir, "documents", name, listed)
      }
      s.table(cname).localCheckpoint(true)
    }
    val centsServe = cents.drop("trained_n")
    // Centroid-identity stamp (round-21, ADVICE medium) — the
    // Similarity.trainedIndexArtifacts rule in hamming space: index
    // rows record which training event assigned them; the merge lane
    // requires the recorded stamp to name the served cents.
    val centsTn = cents.agg(max(col("trained_n"))).head().getLong(0)
    val assigned = Artifacts.cached(s, s"phash-ivf-trained-idx:$dir") {
      graft.sources.Warehouse.servedFrameMerged(
        s, "phash_ivf_tr", dir, "documents", fp,
        bucket = Some(("cell", PhashIdxBuckets))) {
        val (sk, _) = phashSketchWithTwins(s, dir)
        phashIvfAssign(sk, centsServe)
          .select(col("doc_id"), col("phash"), col("cell"))
          .withColumn("cents_tn", lit(centsTn))
      } { (old, delta) =>
        // Merge only at FIXED centroids (reused quantizer). The delta's
        // sketches come off the merged sketch store — no re-decode of
        // settled payloads; delta docs have no planted twins (plants
        // re-key doc_id < PhashPlantCount, settled by construction).
        // The old index's stamp must name the served cents' training
        // event (min AND max, one RLE-column pass) — decline otherwise.
        val ct = s.table(centsTable)
        if (!ct.columns.contains("trained_n")) None
        else if (ct.agg(max(col("trained_n"))).head().getLong(0) == n) None
        else if (!old.columns.contains("cents_tn")) None
        else {
          val w = old.agg(min(col("cents_tn")), max(col("cents_tn"))).head()
          if (w.isNullAt(0) || w.getLong(0) != centsTn ||
              w.getLong(1) != centsTn) None
          else {
            val (sk, _) = phashSketchWithTwins(s, dir)
            Some(old.unionByName(phashIvfAssign(
              sk.join(delta.select(col("doc_id")), Seq("doc_id")), centsServe)
              .select(col("doc_id"), col("phash"), col("cell"))
              .withColumn("cents_tn", lit(centsTn))))
          }
        }
      }
    }
    (centsServe, assigned)
  }

  /** Train + assign now — Bench's explicit artifact-build row. */
  def warmPhashIvfTrained(s: SparkSession, dir: String): Unit = {
    phashIvfTrainedArtifacts(s, dir)
    ()
  }

  /** The (trained centroid frame, trained index TABLE NAME) view of
    * [[phashIvfTrainedArtifacts]] — one lifecycle since round-17 (the
    * phashIvfTableArtifacts twin). */
  private def phashIvfTrainedTableArtifacts(
      s: SparkSession, dir: String): (DataFrame, String) = {
    val (cents, _) = phashIvfTrainedArtifacts(s, dir)
    (cents, graft.sources.Warehouse.tableName(
      "phash_ivf_tr", dir, docsFp(s, dir)))
  }

  /** The shared front end of both IVF keys: serve from the cached
    * index. */
  private def phashIvfQuery(s: SparkSession, dir: String): DataFrame = {
    val (cents, assigned) = phashIvfArtifacts(s, dir)
    phashIvfServe(assigned, cents, PhashProbeCount, PhashTopK)
  }

  /** ONE brute-truth build per (session, dir): the exact hamming top-k
    * every audit ranks against (`q_mm_phash_search`'s frame verbatim —
    * that key still computes it inline because its PLAN is the brute
    * reference, plan-asserted). Cached so the two recall audits and
    * the quantizer policy pay ONE corpus pass between them instead of
    * three. */
  private def phashBruteTruth(s: SparkSession, dir: String): DataFrame =
    // Persisted per corpus state (warehouse family `phash_truth`,
    // round-17 — the knnBruteTruth twin): the exact pass is the
    // expensive audit input at lake scale; a warm process reads
    // probes×k rows.
    Artifacts.cached(s, s"phash-brute-truth:$dir")(
      graft.sources.Warehouse.servedFrameMerged(
        s, "phash_truth", dir, "documents", docsFp(s, dir)) {
        val (sk, _) = phashSketchWithTwins(s, dir)
        val probes = sk.filter(col("doc_id") < PhashProbeCount)
          .select(col("doc_id").as("probe_id"),
            col("phash").as("probe_hash"))
        phashSearch(sk, probes, PhashTopK)
      } { (old, deltaRaw) =>
        // APPEND-MERGE (round-19, the knn_truth twin): hamming top-k
        // under the total (score DESC, doc ASC) tie rule is
        // re-rankable — topk(full) ≡ topk(old topk ∪ delta) — and the
        // probe set (doc_id < PhashProbeCount) is settled under the
        // append contract, so the truth refresh scores probes×delta
        // sketches, read from the ALREADY-MERGED sketch store: nothing
        // re-decodes, nothing rescores the settled corpus.
        val (sk, _) = phashSketchWithTwins(s, dir)
        val probes = sk.filter(col("doc_id") < PhashProbeCount)
          .select(col("doc_id").as("probe_id"),
            col("phash").as("probe_hash"))
        val deltaSk = sk.join(broadcast(deltaRaw.select("doc_id")),
          Seq("doc_id"), "left_semi")
        def asScore(df: DataFrame) = df.select(col("probe_id"),
          col("doc_id"),
          (lit(PhashBits) - col("hamming")).cast("bigint").as("score"))
        val scored = asScore(old)
          .unionByName(asScore(phashSearch(deltaSk, probes, PhashTopK)))
        Some(graft.functions.TopK.perKey(
          scored, "probe_id", "score", "doc_id", PhashTopK)
          .select(col("probe_id"), col("doc_id"),
            (lit(PhashBits) - col("score")).cast("int").as("hamming"),
            col("rk")))
      }.localCheckpoint(true))

  /** AUDIT-DRIVEN QUANTIZER SELECTION — the serving policy: compare
    * the two quantizers' recall audits against the shared brute truth
    * and pick the winner (micro-averaged: total hits over total truth
    * rows — the n_true sides are identical, so the DECISION is a pure
    * integer comparison with no float in the loop; ties go to first-K,
    * the quantizer with no training build to amortize). The engine
    * MEASURES both recalls anyway (`q_mm_phash_ivf_recall` /
    * `_trained_recall`); letting a caller serve the loser was the gap
    * — now [[phashIvfServePersisted]] reads this policy and serves the
    * winner's index. All three inputs are probes×k frames (tiny,
    * broadcast); output is ONE row (quantizer, recall_firstk,
    * recall_trained), rounding exactly the recallVs convention. */
  def phashIvfPolicy(truth: DataFrame, firstK: DataFrame,
                     trained: DataFrame): DataFrame = {
    def c(df: DataFrame) =
      df.select(col("probe_id"), col("doc_id").as("cand_id"))
    Similarity.quantizerPolicy(c(truth), c(firstK), c(trained))
  }

  /** Fixture-drivable policy: brute truth + both quantizers computed
    * from a raw (doc_id, phash) sketch frame — what PipelineSpec
    * drives with the two-pole planted-cluster fixture (trained wins)
    * and a uniform corpus (first-K wins). */
  def phashIvfPolicyFor(sk: DataFrame, kk: Int, nProbes: Int, k: Int,
                        nprobe: Int = PhashIvfNprobe): DataFrame = {
    val probes = sk.filter(col("doc_id") < nProbes)
      .select(col("doc_id").as("probe_id"), col("phash").as("probe_hash"))
    val truth = phashSearch(sk, probes, k)
    val cents = phashIvfCells(sk, kk)
    val firstK = phashIvfServe(phashIvfAssign(sk, cents), cents,
      nProbes, k, nprobe)
    val tc = phashMajorityCentroids(sk, kk)
    val trained = phashIvfServe(phashIvfAssign(sk, tc), tc,
      nProbes, k, nprobe)
    phashIvfPolicy(truth, firstK, trained)
  }

  /** ONE policy decision per CORPUS STATE (warehouse family
    * `phash_policy`, round-17): dependencies resolve INSIDE the miss
    * callback — servedFrame's by-name contract — so a warm process
    * reads the one-row table and touches neither quantizer's
    * artifacts (Artifacts.cached is re-entrant by design; the old
    * hoisting convention predated that guarantee). */
  private def phashIvfPolicyQuery(s: SparkSession, dir: String): DataFrame =
    Artifacts.cached(s, s"phash-ivf-policy:$dir")(
      graft.sources.Warehouse.servedFrame(
        s, "phash_policy", dir, docsFp(s, dir)) {
        val truth = phashBruteTruth(s, dir)
        val (cents, assigned) = phashIvfArtifacts(s, dir)
        val (tc, ta) = phashIvfTrainedArtifacts(s, dir)
        val firstK = phashIvfServe(assigned, cents, PhashProbeCount, PhashTopK)
        val trained = phashIvfServe(ta, tc, PhashProbeCount, PhashTopK)
        phashIvfPolicy(truth, firstK, trained)
      }.localCheckpoint(true))

  /** The policy's selection, as the serving switch reads it. */
  def phashIvfSelectedQuantizer(s: SparkSession, dir: String): String =
    phashIvfPolicyQuery(s, dir).collect().head.getString(0)

  /** Build the policy NOW (brute truth + decision + the WINNER's
    * persisted table) — Bench's explicit artifact-build row, so
    * policy-routed serving never pays a build inside the timed key. */
  def warmPhashIvfPolicy(s: SparkSession, dir: String): Unit = {
    phashIvfSelectedQuantizer(s, dir) match {
      case "trained" => phashIvfTrainedTableArtifacts(s, dir)
      case _ => phashIvfTableArtifacts(s, dir)
    }
    ()
  }

  /** ONE image-CC labeling per (session, dir), like the text family's
    * ngram labels — connectedComponents materializes internally, so
    * the cached frame is already checkpointed. */
  private def phashClusterLabels(s: SparkSession, dir: String): DataFrame =
    Artifacts.cached(s, s"phash-cc-labels:$dir") {
      // Warehouse lifecycle (the ngramClusterLabels rule): a hit skips
      // the corpus decode AND the CC fixed point; deterministic builds
      // make reuse == rebuild.
      // APPEND-MERGE (round-19): [[Dedup.ccLabelsMerged]] star
      // contraction; the pair frame re-derives from the MERGED sketch
      // store (no decode either lane). DECLINES across a
      // [[phashChunkWidth]] step — the candidate chunk-bucket rule is
      // width-dependent, so settled pairs are growth-invariant only
      // while the derived width holds (the sketch-twin convention).
      graft.sources.Warehouse.servedFrameMerged(
        s, "phash_cc", dir, "documents", docsFp(s, dir))(
        Dedup.connectedComponents(
          phashPairsQuery(s, dir).select(col("doc_a"), col("doc_b")))
      ) { (old, delta) =>
        val n = graft.sources.Warehouse.corpusStats(s, dir, "documents")._1
        val deltaIds = delta.select(col("doc_id"))
        if (phashWidthCrossed(n, deltaIds.count())) None
        else Some(Dedup.ccLabelsMerged(old,
          phashPairsQuery(s, dir).select(col("doc_a"), col("doc_b")),
          deltaIds))
      }
    }

  /** Build the shared image-CC labeling NOW (Bench's explicit
    * artifact-build pass — same accounting rule as the text family's
    * warmClusterLabels: the build is its own timed row, so it can
    * neither hide inside nor be retried out of the serving key). */
  def warmPhashClusterLabels(s: SparkSession, dir: String): Unit = {
    phashClusterLabels(s, dir)
    ()
  }

  val queries: Map[String, Q] = Map(
    // Metadata extraction by REAL header parsing over the staged binary
    // payloads: signature dispatch + big-endian (PNG IHDR, JPEG SOF)/
    // little-endian (GIF LSD) dimension reads, all as codegen'd
    // substring+hex+conv byte arithmetic — no media library. The
    // declarative JPEG branch is a BOUNDED SEGMENT WALK (MaxJpegSegs
    // unrolled steps, each one projection layer so offsets are computed
    // once, not re-derived exponentially): it follows FF-marker segment
    // lengths like the imperative kernel (`decode`) does, so
    // APPn/DQT-first files — not just the staged SOF-first layout —
    // parse identically in both paths (agreement asserted in
    // PipelineSpec on both layouts). A real file whose SOF sits beyond
    // MaxJpegSegs segments yields 0×0 in the plan path — the documented
    // bound; the kernel walks arbitrarily many.
    "q_mm_meta" -> ((s, dir) =>
      metaPlan(Multimodal.stagedPayloads(s, dir)).orderBy("doc_id")),

    // WAV metadata parse over the staged audio payloads — see
    // [[wavMetaPlan]]: every field read back from the bytes; the
    // oracle predicts them from n_chars, so a hash match proves the
    // synthesize→parse round trip (the q_mm_meta convention on the
    // audio member of the modality set).
    "q_mm_audio_meta" -> ((s, dir) =>
      wavMetaPlan(stageWavPayloads(Tables.documents(s, dir)))
        .orderBy("doc_id")),

    // Windowed PCM energy + mean-centered zero-crossing counts — see
    // [[audioFeatures]]: the feature-extraction pass of the audio
    // pipeline, decoded from the payload's data section.
    "q_mm_audio_energy" -> ((s, dir) =>
      audioFeatures(stageWavPayloads(Tables.documents(s, dir)))
        .orderBy("doc_id", "win")),

    // Silence/clipping ingest screens over the staged corpus UNION the
    // boundary plant set — see [[audioScreens]] and [[AudioPlants]]
    // (ASCII corpus bytes can't clip, so the plants make both screen
    // branches non-vacuous; the oracle replays them as integer sample
    // formulas, proving the byte decode).
    "q_mm_audio_screens" -> ((s, dir) =>
      audioScreens(stageWavPayloads(Tables.documents(s, dir))
        .unionByName(stageWavPlants(s)))),

    // Loudest-window retrieval: top-2 windows per doc by energy
    // through the map-side-combining TopK aggregate (partials reduce
    // to k rows per doc per partition BEFORE the shuffle — the
    // q_sample_stratified shape; no full-width window).
    "q_mm_audio_loudest" -> ((s, dir) => {
      val feats = audioFeatures(stageWavPayloads(Tables.documents(s, dir)))
        .select(col("doc_id"), col("win").cast("bigint").as("win"),
          col("energy"))
      graft.functions.TopK.perKey(feats, "doc_id", "energy", "win", 2)
        .select(col("doc_id"), col("win").cast("int").as("win"),
          col("energy"), col("rk"))
        .orderBy("doc_id", "rk")
    }),

    // Resize plumbing: aspect-preserving fit into 640×480 — the target
    // geometry every thumbnailing stage computes before the (stubbed)
    // pixel work. Scale in double, output dims floored, never upscale.
    "q_mm_resize" -> ((s, dir) => {
      val w = (lit(320) + col("n_chars") % 1600).cast("double")
      val h = (lit(240) + (col("n_chars").cast("bigint") * 7) % 840).cast("double")
      val scale = least(lit(640.0) / w, lit(480.0) / h, lit(1.0))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          w.cast("int").as("src_w"), h.cast("int").as("src_h"),
          floor(w * scale).cast("int").as("out_w"),
          floor(h * scale).cast("int").as("out_h"))
        .orderBy("doc_id")
    }),

    // EXECUTED resize through the real codec seam — see [[resizeExec]]:
    // decode → nearest-neighbor resample to 60 rows → re-encode as a
    // REAL PNG → decode again → pixel sum + aHash fold. The oracle
    // replays every hop from the text bytes (luma identity + PNG
    // losslessness), so the hash match proves the pixels moved.
    "q_mm_resize_exec" -> ((s, dir) =>
      resizeExecRendered(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // Perceptual-hash image near-dup — see [[phashSketch]]/[[phashPairs]]:
    // aHash over sampled payload bytes (decode seam stubbed), banded
    // hamming blocking, exact verify. Chunk width derives from corpus
    // size (the simhash rule, capped for the pigeonhole guarantee).
    // The planted twins (PhashPlantBase) keep the pair set non-empty on
    // a dup-free corpus; the oracle replays the identical union + byte
    // arithmetic, so rows/schema/hash are a real signal at every SF.
    "q_mm_phash" -> ((s, dir) =>
      phashPairsQuery(s, dir).orderBy("doc_a", "doc_b")),

    // HAMMING-RADIUS CURVE over the image pair frame — the multimodal
    // twin of q_dedup_threshold_curve (the radius is the image dedup's
    // operating knob exactly as the Jaccard threshold is text's): per
    // radius 0..PhashHammingMax, the CUMULATIVE within-radius pair
    // count and distinct docs involved; empty radii kept as zero rows.
    // The pair frame is the banded join already paid by q_mm_phash
    // (pigeonhole-exact at the max radius ⟹ every sub-radius is a
    // filter over it); the ×4 fan-out rides the PAIR frame.
    "q_mm_phash_curve" -> ((s, dir) => {
      import s.implicits._
      val (sk, width) = phashSketchWithTwins(s, dir)
      val pairs = phashPairsFrom(sk, width)
      val radii = (0 to PhashHammingMax).map(_.toLong).toDF("radius")
      val pe = pairs.crossJoin(broadcast(radii))
        .filter(col("hamming") <= col("radius"))
      val np = pe.groupBy("radius").agg(count(lit(1)).as("n_pairs"))
      val nd = pe
        .select(col("radius"),
          explode(array(col("doc_a"), col("doc_b"))).as("d"))
        .groupBy("radius").agg(countDistinct(col("d")).as("n_docs"))
      radii.join(np, Seq("radius"), "left").join(nd, Seq("radius"), "left")
        .select(col("radius"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .orderBy("radius")
    }),

    // DECODED perceptual hash, oracle-checked end to end: each doc
    // renders to a REAL n×1 gray PNG (pixel p = text byte p,
    // encodeGrayPng), the payload decodes back through ImageIO
    // (lumaSamples), and the sampled pixel lumas fold to the sketch.
    // PNG losslessness + the exact gray-luma identity (weights sum to
    // 1000) make the decoded sketch a pure function of the text bytes,
    // which the oracle replays with ascii(substr(...)). The hash match
    // PROVES the decode ran: had ImageIO failed, the byteSamples
    // fallback would sample PNG CONTAINER bytes (signature + zlib
    // stream) and diverge on every row. Scale shape: encode → decode →
    // sketch is one partition-local pipeline; the binary exists only
    // inside the stage and never shuffles.
    "q_mm_phash_decoded" -> ((s, dir) =>
      phashSketchDecodedRendered(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // Incremental image ingest — see phashPairsIncremental: the
    // arriving batch (the doc_id % 5 slice every incremental key uses;
    // the planted twins split across batch and corpus, keeping the
    // answer non-empty at every SF) near-dups against the corpus
    // chunk index + itself; corpus×corpus is never joined. Oracle =
    // the full phash pair replay restricted to batch-touching pairs,
    // so the hash match proves incremental == full.
    "q_mm_phash_incremental" -> ((s, dir) => {
      val (sk, width) = phashSketchWithTwins(s, dir)
      phashPairsIncremental(sk, col("doc_id") % 5 === 0, width)
        .orderBy("doc_a", "doc_b")
    }),

    // Image retrieval — see phashSearch: the first PhashProbeCount
    // originals query the corpus+twins universe for their PhashTopK
    // hamming-nearest sketches. The planted twins make retrieval
    // observable at every SF: probes 0..2 find their byte-identical
    // twin at hamming 0, ranked right after themselves (tie on
    // hamming 0 broken by doc_id).
    "q_mm_phash_search" -> ((s, dir) => {
      val (sk, _) = phashSketchWithTwins(s, dir)
      val probes = sk.filter(col("doc_id") < PhashProbeCount)
        .select(col("doc_id").as("probe_id"), col("phash").as("probe_hash"))
      phashSearch(sk, probes, PhashTopK).orderBy("probe_id", "rk")
    }),

    // Image near-dup CLUSTERS — the multimodal twin of q_dedup_cluster:
    // connected components (min-label, checkpointed loop) over the
    // phash pair graph, labeling every touched image with its
    // cluster's min doc_id. Same shared-artifact pattern as the text
    // CC family (one labeling build per session/dir serves any
    // consumer); the oracle is full recursive-CTE reachability over
    // the SAME replayed pair SQL, so pairs and clusters reconcile by
    // construction.
    "q_mm_phash_cluster" -> ((s, dir) =>
      phashClusterLabels(s, dir).orderBy("doc_id")),

    // Hamming-IVF image retrieval — see phashIvfSearch: first-K hamming
    // cells (K = ceil(sqrt N)), probes search their PhashIvfNprobe
    // nearest cells only (~nprobe·sqrt(N) candidates instead of N).
    // q_mm_phash_search is the exact reference; the recall twin below
    // quantifies what cell restriction costs.
    "q_mm_phash_ivf" -> ((s, dir) =>
      phashIvfQuery(s, dir).orderBy("probe_id", "rk")),

    // TRAINED hamming quantizer serving — see phashMajorityCentroids:
    // binary k-means refines the first-K seed for PhashTrainIters
    // rounds (deterministic ⟹ the oracle replays TRAINING, not just
    // serving — the q_knn_ivf_trained story in hamming space); the
    // search body is the untrained key's verbatim, so the recall delta
    // vs q_mm_phash_ivf is attributable to training alone.
    "q_mm_phash_ivf_trained" -> ((s, dir) => {
      val (cents, assigned) = phashIvfTrainedArtifacts(s, dir)
      phashIvfServe(assigned, cents, PhashProbeCount, PhashTopK)
        .orderBy("probe_id", "rk")
    }),

    // Recall audit of the TRAINED quantizer vs the brute truth — read
    // next to q_mm_phash_ivf_recall, the delta is what training bought
    // (the untrained/trained recall pair every served index publishes).
    "q_mm_phash_ivf_trained_recall" -> ((s, dir) => {
      val truth = phashBruteTruth(s, dir)
        .select(col("probe_id"), col("doc_id").as("cand_id"))
      val (cents, assigned) = phashIvfTrainedArtifacts(s, dir)
      val approx = phashIvfServe(assigned, cents, PhashProbeCount, PhashTopK)
        .select(col("probe_id"), col("doc_id").as("cand_id"))
      Similarity.recallVs(truth, approx)
    }),

    // THE SERVING POLICY — audit-driven quantizer selection (see
    // phashIvfPolicy): one row naming the quantizer the recall audits
    // select, with both micro-averaged recalls. phashIvfServePersisted
    // reads this decision, so the persisted lifecycle serves the
    // measured winner, never the loser. Oracle replays BOTH serve
    // chains (first-K and trained) against the brute truth and the
    // same integer hit comparison.
    "q_mm_phash_ivf_policy" -> ((s, dir) =>
      phashIvfPolicyQuery(s, dir).orderBy("quantizer")),

    // Cell-occupancy audit of the image index — the q_knn_ivf_stats
    // analogue: per cell, member count with EMPTY cells surfaced (a
    // first-K quantizer's skew forecast; a fat cell is the straggler
    // the nprobe search would hit). One grouped count over the cached
    // assignment; answer = K rows.
    "q_mm_phash_ivf_stats" -> ((s, dir) => {
      val (cents, assigned) = phashIvfArtifacts(s, dir)
      cents.select(col("cid").as("cell"))
        .join(assigned.groupBy("cell").agg(count(lit(1)).as("n")),
          Seq("cell"), "left")
        .select(col("cell"), coalesce(col("n"), lit(0L)).as("n_images"))
        .orderBy("cell")
    }),

    // The persisted-lifecycle twin: SAME answer served from the
    // cell-bucketed TABLE with plan-time bucket pruning — its oracle
    // is q_mm_phash_ivf's SQL verbatim, so one hash pins
    // in-memory == persisted == replay.
    "q_mm_phash_ivf_served" -> ((s, dir) =>
      phashIvfServePersisted(s, dir, PhashProbeCount, PhashTopK)
        .orderBy("probe_id", "rk")),

    // Oracle-exact recall@k of the hamming IVF vs the brute truth —
    // the audit row every served index here carries (the q_knn_*_recall
    // pattern): per probe, |ivf top-k ∩ brute top-k| / k.
    "q_mm_phash_ivf_recall" -> ((s, dir) => {
      val truth = phashBruteTruth(s, dir)
        .select(col("probe_id"), col("doc_id").as("cand_id"))
      val approx = phashIvfQuery(s, dir)
        .select(col("probe_id"), col("doc_id").as("cand_id"))
      Similarity.recallVs(truth, approx)
    }),

    // Frame sampling plumbing: every-Nth-frame index list per media row —
    // the explode shape a video pipeline uses, with frame count from the
    // (fake) decode.
    "q_mm_frames" -> ((s, dir) =>
      Tables.documents(s, dir)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          (lit(1) + col("n_chars") % 240).cast("int").as("n_frames"))
        .select(col("doc_id"), col("n_frames"),
          posexplode(expr("sequence(0, n_frames - 1, 30)")))
        .select(col("doc_id"), col("n_frames"),
          col("pos").as("sample_idx"), col("col").as("frame_no"))
        .orderBy("doc_id", "sample_idx")),
  )

  /** Corpus samples for the audio oracles: per-char integer samples
    * from the text (the staged data section IS the text bytes). */
  private def audioCorpusSamplesCte: String = """smc AS (
        SELECT doc_id,
               list_transform(range(1, n_chars + 1),
                 i -> ascii(substr(text, CAST(i AS INTEGER), 1))) AS s
        FROM documents)"""

  /** Window enumeration + slices over whatever `sm` frame the caller
    * assembled (corpus alone, or corpus ∪ plants for the screens). */
  private def audioWindowCtes: String = s"""win AS (
        SELECT doc_id, CAST(unnest(range(0,
                 CAST(ceil(greatest(len(s), 1) / $AudioWindow.0) AS BIGINT)))
               AS INTEGER) AS win, s
        FROM sm),
      sliced AS (
        SELECT doc_id, win,
               s[CAST(win * $AudioWindow + 1 AS BIGINT) :
                 CAST(win * $AudioWindow + $AudioWindow AS BIGINT)] AS sl
        FROM win)"""

  /** Shared audio oracle front: per-char samples from the text, the
    * per-doc window enumeration, and the window slices — the DuckDB
    * twin of [[audioFeatures]]'s decode + slicing. */
  private def audioSliceCtes: String = s"""$audioCorpusSamplesCte,
      sm AS (SELECT * FROM smc),
      $audioWindowCtes"""

  /** The [[AudioPlants]] replayed as INTEGER sample formulas (the hex
    * bodies re-expressed as position rules — bytes ≥ 0x80 never exist
    * as oracle strings; see [[AudioPlants]]). */
  private def audioPlantsCte: String = {
    def p(i: Long, n: Int, rule: String) =
      s"""SELECT CAST(${AudioPlantBase + i} AS BIGINT) AS doc_id,
          list_transform(range(1, ${n + 1}), i -> CAST($rule AS INTEGER)) AS s"""
    s"""plants AS (
        ${p(1, 500, "128")}
        UNION ALL ${p(2, 400, "125")}
        UNION ALL ${p(3, 400, "CASE WHEN i % 2 = 1 THEN 127 ELSE 129 END")}
        UNION ALL ${p(4, 400, "CASE WHEN i <= 6 THEN 0 WHEN i <= 12 THEN 255 ELSE 32 END")}
        UNION ALL ${p(5, 400, "CASE WHEN i <= 2 THEN 0 WHEN i <= 4 THEN 255 ELSE 32 END")}
        UNION ALL ${p(6, 800, "CASE WHEN i <= 400 THEN 128 ELSE 32 END")}
        UNION ALL ${p(7, 1600, "CASE WHEN i <= 400 THEN 0 ELSE 128 END")})"""
  }

  val oracle: Map[String, String] = Map(
    // The energy ranking replayed + the row_number twin of the
    // map-side TopK (same (energy desc, win) tie rule).
    "q_mm_audio_loudest" -> s"""
      WITH $audioSliceCtes,
      en AS (
        SELECT doc_id, win,
               CAST(coalesce(list_sum(list_transform(sl,
                 x -> CAST(x - 128 AS BIGINT) * (x - 128))), 0) AS BIGINT)
                 AS energy
        FROM sliced)
      SELECT doc_id, win, energy, CAST(rk AS INTEGER) AS rk FROM (
        SELECT doc_id, win, energy,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY energy DESC, win) AS rk
        FROM en)
      WHERE rk <= 2 ORDER BY doc_id, rk""",
    // The oracle PREDICTS what the byte parser must recover: the staged
    // headers encode dims (320 + n % 1600, 240 + 7n % 840) and add a
    // format-specific header size (PNG 33 B, JPEG 15 B, GIF 13 B) to the
    // body length. A hash match proves the synthesize→parse round-trip
    // is exact on every row.
    // Every parsed field predicted from n_chars — equality proves the
    // engine's little-endian byte arithmetic recovered the header the
    // staging wrote.
    "q_mm_audio_meta" -> """
      SELECT doc_id, 'wav' AS format,
             CAST(1 AS INTEGER) AS channels,
             CAST(8000 + 250 * (n_chars % 17) AS BIGINT) AS sample_rate,
             CAST(8000 + 250 * (n_chars % 17) AS BIGINT) AS byte_rate,
             CAST(8 AS INTEGER) AS bits,
             CAST(n_chars AS BIGINT) AS data_bytes,
             CAST(n_chars * 1000 // (8000 + 250 * (n_chars % 17)) AS BIGINT)
               AS duration_ms
      FROM documents ORDER BY doc_id""",

    // The feature pass replayed from the text bytes (the staged data
    // section IS the text): per-window Σ(s−128)² and the
    // cross-multiplied mean-centered sign-change count.
    "q_mm_audio_energy" -> s"""
      WITH $audioSliceCtes,
      summed AS (
        SELECT doc_id, win, sl,
               CAST(coalesce(list_sum(sl), 0) AS BIGINT) AS ssum
        FROM sliced)
      SELECT doc_id, win,
             CAST(len(sl) AS BIGINT) AS n_samples,
             CAST(coalesce(list_sum(list_transform(sl,
               x -> CAST(x - 128 AS BIGINT) * (x - 128))), 0) AS BIGINT)
               AS energy,
             CAST(CASE WHEN len(sl) < 2 THEN 0 ELSE
               coalesce(list_sum(list_transform(range(2, len(sl) + 1), j ->
                 CASE WHEN ((CAST(sl[j - 1] AS BIGINT) * len(sl) - ssum) >= 0)
                           != ((CAST(sl[j] AS BIGINT) * len(sl) - ssum) >= 0)
                      THEN 1 ELSE 0 END)), 0) END AS BIGINT) AS zcr
      FROM summed ORDER BY doc_id, win""",

    // Screens replayed over corpus ∪ plant formulas: per-window energy
    // and rail count from the sample lists, per-doc shares by the same
    // strict-boundary integer rules (9·n silence compare, > 100 bp
    // clip, > 5000 bp silent-window share, 'clipping' first).
    "q_mm_audio_screens" -> s"""
      WITH $audioCorpusSamplesCte,
      $audioPlantsCte,
      sm AS (SELECT * FROM smc UNION ALL SELECT * FROM plants),
      $audioWindowCtes,
      wstats AS (
        SELECT doc_id, CAST(len(sl) AS BIGINT) AS n,
               CAST(coalesce(list_sum(list_transform(sl,
                 x -> CAST(x - 128 AS BIGINT) * (x - 128))), 0) AS BIGINT)
                 AS energy,
               CAST(coalesce(list_sum(list_transform(sl,
                 x -> CASE WHEN x = 0 OR x = 255 THEN 1 ELSE 0 END)), 0)
                 AS BIGINT) AS n_clip
        FROM sliced),
      agg AS (
        SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_samples,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(sum(CASE WHEN energy < $AudioSilenceEnergyPerSample * n
                             THEN 1 ELSE 0 END) AS BIGINT) AS silent_windows,
               CAST(sum(n_clip) AS BIGINT) AS clipped_samples
        FROM wstats GROUP BY doc_id)
      SELECT doc_id, n_samples, n_windows, silent_windows,
             CAST(silent_windows * 10000 // n_windows AS BIGINT)
               AS silence_bp,
             clipped_samples,
             CAST(clipped_samples * 10000 // greatest(n_samples, 1)
               AS BIGINT) AS clip_bp,
             CASE WHEN clipped_samples * 10000 // greatest(n_samples, 1)
                       > $AudioClipBpMax THEN 'clipping'
                  WHEN silent_windows * 10000 // n_windows
                       > $AudioSilenceShareBp THEN 'silence'
                  ELSE 'ok' END AS verdict
      FROM agg ORDER BY doc_id""",

    "q_mm_meta" -> """
      SELECT doc_id,
             CAST(n_chars + CASE WHEN n_chars % 3 = 0 THEN 33
                                 WHEN n_chars % 3 = 1 THEN 15
                                 ELSE 13 END AS BIGINT) AS n_bytes,
             CASE WHEN n_chars % 3 = 0 THEN 'png'
                  WHEN n_chars % 3 = 1 THEN 'jpeg'
                  ELSE 'gif' END AS format,
             CAST(320 + n_chars % 1600 AS INTEGER) AS width,
             CAST(240 + (n_chars * 7) % 840 AS INTEGER) AS height
      FROM documents ORDER BY doc_id""",

    "q_mm_resize" -> """
      SELECT doc_id,
             CAST(w AS INTEGER) AS src_w, CAST(h AS INTEGER) AS src_h,
             CAST(floor(w * least(640.0 / w, 480.0 / h, 1.0)) AS INTEGER) AS out_w,
             CAST(floor(h * least(640.0 / w, 480.0 / h, 1.0)) AS INTEGER) AS out_h
      FROM (
        SELECT doc_id,
               CAST(320 + n_chars % 1600 AS DOUBLE) AS w,
               CAST(240 + (n_chars * 7) % 840 AS DOUBLE) AS h
        FROM documents)
      ORDER BY doc_id""",

    // Every hop of the executed resize replayed from the text bytes:
    // source rows = text bytes (luma identity through the first
    // encode/decode), nearest-neighbor resample at the shared floor
    // arithmetic, then sum + aHash of the strip (the second PNG hop is
    // lossless, so the round-tripped pixels ARE the resampled ones —
    // which is exactly what a hash match proves about the engine).
    "q_mm_resize_exec" -> s"""
      WITH src AS (
        SELECT doc_id,
               list_transform(range(0, greatest(length(text), 1)), i ->
                 CASE WHEN length(text) = 0 THEN 0::BIGINT
                      ELSE ascii(substr(text, CAST(i + 1 AS INTEGER), 1))::BIGINT
                 END) AS px
        FROM documents),
      res AS (
        SELECT doc_id, len(px) AS src_h,
               list_transform(range(0, $ResizeOutH), j ->
                 px[CAST(1 + ((len(px) - 1) * j) // ${ResizeOutH - 1}
                    AS INTEGER)]) AS rp
        FROM src),
      m AS (
        SELECT doc_id, src_h, rp,
               CAST(list_sum(rp) AS BIGINT) // $ResizeOutH AS mean
        FROM res)
      SELECT doc_id,
             CAST(src_h AS INTEGER) AS src_h,
             CAST($ResizeOutH AS INTEGER) AS out_h,
             CAST(list_sum(rp) AS BIGINT) AS pix_sum,
             CAST(list_sum(list_transform(range(0, $ResizeOutH), k ->
               CASE WHEN rp[k + 1] > mean THEN (1::BIGINT << k)
                    ELSE 0::BIGINT END)) AS BIGINT) AS rhash
      FROM m ORDER BY doc_id""",

    // Full SQL replay of the phash byte arithmetic — header synthesis in
    // hex-string space (DuckDB 1.0 has no BLOB substring, and the corpus
    // is ASCII so text bytes == code points via ascii()): sampled byte
    // b_k comes from the header hex when its position lands inside the
    // header, else from the text; mean/threshold/fold mirror
    // phashSketch term for term. The final pair semantics (a<b, hamming
    // <= radius) equal the banded plan's output because the blocking is
    // pigeonhole-EXACT at the radius (>= 4 chunks always — width <= 15).
    "q_mm_phash" -> s"""
      WITH $phashSqlCtes
      $phashPairsSelect
      ORDER BY doc_a, doc_b""",

    // The pair select re-grouped per cumulative radius; LEFT joins
    // keep empty radii as zeros in both engines.
    "q_mm_phash_curve" -> s"""
      WITH $phashSqlCtes,
      p AS ($phashPairsSelect),
      radii AS (
        SELECT CAST(unnest(range(0, ${PhashHammingMax + 1})) AS BIGINT)
          AS radius),
      np AS (
        SELECT radius, CAST(count(*) AS BIGINT) AS n_pairs
        FROM p, radii WHERE hamming <= radius GROUP BY radius),
      nd AS (
        SELECT radius, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
        FROM (SELECT radius, unnest([doc_a, doc_b]) AS d
              FROM p, radii WHERE hamming <= radius)
        GROUP BY radius)
      SELECT radius, coalesce(n_pairs, 0) AS n_pairs,
             coalesce(n_docs, 0) AS n_docs
      FROM radii LEFT JOIN np USING (radius) LEFT JOIN nd USING (radius)
      ORDER BY radius""",

    // The decoded-sketch replay needs no header synthesis: the rendered
    // PNG's pixel p IS text byte p, so sample k is
    // ascii(text[1 + ((len−1)·k) // 59]) and the mean/threshold/fold
    // mirror phashOf term for term (see the q_mm_phash_decoded query
    // comment for why a hash match proves the ImageIO decode was exact).
    "q_mm_phash_decoded" -> s"""
      WITH sampled AS (
        SELECT doc_id,
               list_transform(range(0, $PhashBits), k ->
                 ascii(substr(text,
                   1 + ((length(text) - 1) * k) // ${PhashBits - 1},
                   1))::BIGINT) AS bs
        FROM documents),
      meaned AS (
        SELECT doc_id, bs, CAST(list_sum(bs) AS BIGINT) // $PhashBits AS m
        FROM sampled)
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, $PhashBits), k ->
               CASE WHEN bs[k + 1] > m THEN (1::BIGINT << k) ELSE 0::BIGINT END))
               AS BIGINT) AS phash
      FROM meaned ORDER BY doc_id""",

    // Full pair replay restricted to batch-touching pairs — the
    // incremental-family oracle shape (the minhash twin's predicate,
    // same % arithmetic on the twin ids: PhashPlantBase % 5 = 0).
    "q_mm_phash_incremental" -> s"""
      WITH $phashSqlCtes,
      pairs AS ($phashPairsSelect)
      SELECT doc_a, doc_b, hamming FROM pairs
      WHERE doc_a % 5 = 0 OR doc_b % 5 = 0
      ORDER BY doc_a, doc_b""",

    // Brute hamming ranking replayed relationally — the row_number
    // twin of the engine's map-side TopK ((hamming asc, doc_id asc)
    // is a total order, so ranks hash-match).
    "q_mm_phash_search" -> s"""
      WITH $phashSqlCtes,
      probes AS (
        SELECT doc_id AS probe_id, phash AS probe_hash
        FROM sk WHERE doc_id < $PhashProbeCount),
      scored AS (
        SELECT p.probe_id, s.doc_id,
               CAST(bit_count(xor(s.phash, p.probe_hash)) AS INTEGER)
                 AS hamming
        FROM sk s CROSS JOIN probes p),
      ranked AS (
        SELECT probe_id, doc_id, hamming,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY hamming, doc_id) AS rk
        FROM scored)
      SELECT probe_id, doc_id, hamming, CAST(rk AS INTEGER) AS rk
      FROM ranked WHERE rk <= $PhashTopK
      ORDER BY probe_id, rk""",

    // Recursive reachability over the SAME replayed pair SQL — the
    // q_dedup_cluster oracle shape on the image pair graph.
    "q_mm_phash_cluster" -> s"""
      WITH RECURSIVE $phashSqlCtes,
      edges AS ($phashPairsSelect),
      und AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges),
      reach(n, m) AS (
        SELECT a, a FROM und
        UNION SELECT b, b FROM und
        UNION
        SELECT u.a, r.m FROM und u JOIN reach r ON u.b = r.n)
      SELECT n AS doc_id, min(m) AS cluster_rep
      FROM reach GROUP BY n ORDER BY doc_id""",

    // The hamming-IVF replay: first-K cells from the same sk CTE,
    // argmin assignment and probe-cell ranking as row_number twins of
    // the engine's min_by / TopK (both order (hamming, cid) — a total
    // order, so the cell sets and ranks hash-match).
    "q_mm_phash_ivf" -> s"""
      WITH $phashSqlCtes,
      $phashIvfSqlCtes
      SELECT probe_id, doc_id, hamming, CAST(rk AS INTEGER) AS rk
      FROM ivf_ranked WHERE rk <= $PhashTopK
      ORDER BY probe_id, rk""",

    // TRAINING replayed end to end — seed, PhashTrainIters majority
    // rounds (assignment / per-bit votes / rebuild), then the same
    // serve chain rooted at the final centroids. A hash match proves
    // the engine's trained quantizer bit for bit.
    "q_mm_phash_ivf_trained" -> s"""
      WITH $phashSqlCtes,
      $phashIvfTrainedSqlCtes
      SELECT probe_id, doc_id, hamming, CAST(rk AS INTEGER) AS rk
      FROM ivf_ranked WHERE rk <= $PhashTopK
      ORDER BY probe_id, rk""",

    // Brute truth LEFT JOIN the trained-serve replay — the recall
    // oracle shape over the trained CTE chain.
    "q_mm_phash_ivf_trained_recall" -> s"""
      WITH $phashSqlCtes,
      $phashIvfTrainedSqlCtes,
      brute AS (
        SELECT probe_id, doc_id FROM (
          SELECT p.probe_id, s.doc_id,
                 row_number() OVER (PARTITION BY p.probe_id
                   ORDER BY bit_count(xor(s.phash, p.probe_hash)),
                            s.doc_id) AS rk
          FROM sk s CROSS JOIN iprobes p)
        WHERE rk <= $PhashTopK),
      approx AS (
        SELECT probe_id, doc_id FROM ivf_ranked WHERE rk <= $PhashTopK)
      SELECT t.probe_id, count(*) AS n_true, count(a.doc_id) AS n_hit,
             round(CAST(count(a.doc_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
               AS recall
      FROM brute t LEFT JOIN approx a
        ON t.probe_id = a.probe_id AND t.doc_id = a.doc_id
      GROUP BY t.probe_id ORDER BY t.probe_id""",

    // The assignment CTE grouped, empty cells via the centroid LEFT
    // join — the q_knn_ivf_stats oracle shape on the sketch universe.
    "q_mm_phash_ivf_stats" -> s"""
      WITH $phashSqlCtes,
      $phashIvfSqlCtes,
      sizes AS (
        SELECT cell, CAST(count(*) AS BIGINT) AS n FROM asg GROUP BY cell)
      SELECT c.cid AS cell,
             CAST(coalesce(s.n, 0) AS BIGINT) AS n_images
      FROM cents c LEFT JOIN sizes s ON c.cid = s.cell
      ORDER BY cell""",

    // POLICY-GATED replay: both serve chains, the winner selected by
    // the same integer hit comparison the engine's policy makes — the
    // served path must hash-match whichever quantizer the audit
    // selects, at EVERY scale factor.
    "q_mm_phash_ivf_served" -> s"""
      WITH $phashSqlCtes,
      $phashIvfPolicySqlCtes
      SELECT probe_id, doc_id, hamming, CAST(rk AS INTEGER) AS rk
      FROM (
        SELECT probe_id, doc_id, hamming, rk FROM ivf_ranked
        WHERE rk <= $PhashTopK AND (SELECT hit_t <= hit_f FROM pol)
        UNION ALL
        SELECT probe_id, doc_id, hamming, rk FROM ivf_ranked_t
        WHERE rk <= $PhashTopK AND (SELECT hit_t > hit_f FROM pol))
      ORDER BY probe_id, rk""",

    // The decision row replayed: both recalls from the shared brute
    // truth, the quantizer named by the integer comparison — a hash
    // match proves the engine serves the audit's winner.
    "q_mm_phash_ivf_policy" -> s"""
      WITH $phashSqlCtes,
      $phashIvfPolicySqlCtes
      SELECT CASE WHEN hit_t > hit_f THEN 'trained' ELSE 'firstk' END
               AS quantizer,
             round(CAST(hit_f AS DOUBLE) / CAST(n_true AS DOUBLE), 4)
               AS recall_firstk,
             round(CAST(hit_t AS DOUBLE) / CAST(n_true AS DOUBLE), 4)
               AS recall_trained
      FROM pol ORDER BY quantizer""",

    // Brute truth (the q_mm_phash_search ranking) LEFT JOIN the IVF
    // answer — the recallOracleSql shape on the image index.
    "q_mm_phash_ivf_recall" -> s"""
      WITH $phashSqlCtes,
      $phashIvfSqlCtes,
      brute AS (
        SELECT probe_id, doc_id FROM (
          SELECT p.probe_id, s.doc_id,
                 row_number() OVER (PARTITION BY p.probe_id
                   ORDER BY bit_count(xor(s.phash, p.probe_hash)),
                            s.doc_id) AS rk
          FROM sk s CROSS JOIN iprobes p)
        WHERE rk <= $PhashTopK),
      approx AS (
        SELECT probe_id, doc_id FROM ivf_ranked WHERE rk <= $PhashTopK)
      SELECT t.probe_id, count(*) AS n_true, count(a.doc_id) AS n_hit,
             round(CAST(count(a.doc_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
               AS recall
      FROM brute t LEFT JOIN approx a
        ON t.probe_id = a.probe_id AND t.doc_id = a.doc_id
      GROUP BY t.probe_id ORDER BY t.probe_id""",

    "q_mm_frames" -> """
      WITH t AS (
        SELECT doc_id, CAST(1 + n_chars % 240 AS INTEGER) AS n_frames
        FROM documents WHERE doc_id < 100)
      SELECT doc_id, n_frames,
             CAST(generate_subscripts(range(0, n_frames, 30), 1) - 1 AS INTEGER) AS sample_idx,
             CAST(unnest(range(0, n_frames, 30)) AS INTEGER) AS frame_no
      FROM t ORDER BY doc_id, sample_idx""",
  )

  /** The phash replay as reusable CTE text (see the `q_mm_phash` oracle
    * comment): corpus+twins → staged headers → sampled bytes → mean →
    * 60-bit sketch. */
  private def phashSqlCtes: String = s"""corpus AS (
        SELECT doc_id, text, n_chars FROM documents
        UNION ALL
        SELECT doc_id + $PhashPlantBase AS doc_id, text, n_chars
        FROM documents WHERE doc_id < $PhashPlantCount
      ),
      staged AS (
        SELECT doc_id, text,
               CASE WHEN n_chars % 3 = 0 THEN 33
                    WHEN n_chars % 3 = 1 THEN 15 ELSE 13 END AS hdr_len,
               CASE WHEN n_chars % 3 = 0 THEN
                      '89504E470D0A1A0A' || '0000000D' || '49484452' ||
                      lpad(hex(320 + n_chars % 1600), 8, '0') ||
                      lpad(hex(240 + (n_chars * 7) % 840), 8, '0') ||
                      '0802000000' || '00000000'
                    WHEN n_chars % 3 = 1 THEN
                      'FFD8' || 'FFC0' || '000B' || '08' ||
                      lpad(hex(240 + (n_chars * 7) % 840), 4, '0') ||
                      lpad(hex(320 + n_chars % 1600), 4, '0') ||
                      '01' || '011100'
                    ELSE
                      '474946383961' ||
                      lpad(hex((320 + n_chars % 1600) % 256), 2, '0') ||
                      lpad(hex((320 + n_chars % 1600) // 256), 2, '0') ||
                      lpad(hex((240 + (n_chars * 7) % 840) % 256), 2, '0') ||
                      lpad(hex((240 + (n_chars * 7) % 840) // 256), 2, '0') ||
                      '000000' END AS hdr_hex
        FROM corpus),
      sampled AS (
        SELECT doc_id,
               list_transform(range(0, $PhashBits), k ->
                 CASE WHEN 1 + ((hdr_len + length(text) - 1) * k) // ${PhashBits - 1} <= hdr_len
                      THEN ('0x' || substr(hdr_hex,
                              2 * (1 + ((hdr_len + length(text) - 1) * k) // ${PhashBits - 1}) - 1,
                              2))::BIGINT
                      ELSE ascii(substr(text,
                              (1 + ((hdr_len + length(text) - 1) * k) // ${PhashBits - 1}) - hdr_len,
                              1))::BIGINT
                 END) AS bs
        FROM staged),
      meaned AS (
        SELECT doc_id, bs, CAST(list_sum(bs) AS BIGINT) // $PhashBits AS m
        FROM sampled),
      sk AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, $PhashBits), k ->
                 CASE WHEN bs[k + 1] > m THEN (1::BIGINT << k) ELSE 0::BIGINT END))
                 AS BIGINT) AS phash
        FROM meaned)"""

  /** The hamming-IVF replay as reusable CTE text over `sk` (see the
    * `q_mm_phash_ivf` oracle comment): derived K = ⌈√N⌉, first-K
    * cells, argmin assignment, top-nprobe probe cells, cell-restricted
    * scoring — each row_number a twin of the engine's min_by / TopK
    * under the shared (hamming, id) total order. */
  /** The serve chain over an arbitrary centroid CTE (`cents` for the
    * first-K keys, `cents2` for the trained key): argmin assignment,
    * top-nprobe probe cells, cell-restricted scoring, total-order
    * ranking. */
  private def phashIvfServeSqlFrom(cents: String,
                                   sfx: String = ""): String = s"""asg$sfx AS (
        SELECT doc_id, phash, cid AS cell FROM (
          SELECT s.doc_id, s.phash, c.cid,
                 row_number() OVER (PARTITION BY s.doc_id
                   ORDER BY bit_count(xor(s.phash, c.cent)), c.cid) AS rn
          FROM sk s CROSS JOIN $cents c)
        WHERE rn = 1),
      iprobes$sfx AS (
        SELECT doc_id AS probe_id, phash AS probe_hash FROM sk
        WHERE doc_id < $PhashProbeCount),
      pcells$sfx AS (
        SELECT probe_id, probe_hash, cid AS cell FROM (
          SELECT p.probe_id, p.probe_hash, c.cid,
                 row_number() OVER (PARTITION BY p.probe_id
                   ORDER BY bit_count(xor(p.probe_hash, c.cent)), c.cid) AS rn
          FROM iprobes$sfx p CROSS JOIN $cents c)
        WHERE rn <= $PhashIvfNprobe),
      iscored$sfx AS (
        SELECT pc.probe_id, a.doc_id,
               CAST(bit_count(xor(a.phash, pc.probe_hash)) AS INTEGER)
                 AS hamming
        FROM pcells$sfx pc JOIN asg$sfx a USING (cell)),
      ivf_ranked$sfx AS (
        SELECT probe_id, doc_id, hamming,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY hamming, doc_id) AS rk
        FROM iscored$sfx)"""

  /** Derived K + first-K cells — the shared head of every IVF oracle. */
  private def phashIvfCellsSql: String = s"""params_ivf AS (
        SELECT CAST(ceil(sqrt(CAST((SELECT count(*) FROM documents)
                                   + $PhashPlantCount AS DOUBLE)))
               AS BIGINT) AS kk),
      cents AS (
        SELECT doc_id AS cid, phash AS cent FROM sk
        WHERE doc_id < (SELECT kk FROM params_ivf))"""

  private def phashIvfSqlCtes: String =
    phashIvfCellsSql + ",\n      " + phashIvfServeSqlFrom("cents")

  /** One majority-training round as CTE text: argmin assignment under
    * `cents$round`, per-(cell, bit) ones/members counts, majority
    * rebuild, empty cells keep their centroid — term for term
    * [[phashMajorityCentroids]]'s round ( // == div and (x>>b)&1
    * spelled as // % on the shared nonnegative domain). */
  private def phashTrainRoundSql(round: Int): String = {
    val next = round + 1
    s"""tasg$round AS (
        SELECT doc_id, phash, cid AS cell FROM (
          SELECT s.doc_id, s.phash, c.cid,
                 row_number() OVER (PARTITION BY s.doc_id
                   ORDER BY bit_count(xor(s.phash, c.cent)), c.cid) AS rn
          FROM sk s CROSS JOIN cents$round c)
        WHERE rn = 1),
      tbits$round AS (
        SELECT cell, b,
               CAST(sum((phash // (1::BIGINT << b)) % 2) AS BIGINT) AS ones,
               CAST(count(*) AS BIGINT) AS n
        FROM tasg$round CROSS JOIN range(0, $PhashBits) t(b)
        GROUP BY cell, b),
      tcn$round AS (
        SELECT cell,
               CAST(sum(CASE WHEN ones * 2 > n THEN (1::BIGINT << b)
                             ELSE 0::BIGINT END) AS BIGINT) AS cn
        FROM tbits$round GROUP BY cell),
      cents$next AS (
        SELECT c.cid, coalesce(n.cn, c.cent) AS cent
        FROM cents$round c LEFT JOIN tcn$round n ON c.cid = n.cell)"""
  }

  /** The full trained-serve replay: first-K seed renamed `cents0`,
    * [[PhashTrainIters]] majority rounds, the serve chain rooted at
    * the final centroid CTE. */
  private def phashIvfTrainedSqlCtes: String = {
    val rounds = (0 until PhashTrainIters)
      .map(phashTrainRoundSql).mkString(",\n      ")
    s"""${phashIvfCellsSql.replace("cents AS", "cents0 AS")},
      $rounds,
      ${phashIvfServeSqlFrom(s"cents$PhashTrainIters")}"""
  }

  /** BOTH quantizers' serve chains in one WITH (trained names carry a
    * `_t` suffix; cents0 aliases the shared first-K seed so the
    * training rounds replay unchanged), plus the brute truth and the
    * policy comparison: `pol` is one row (n_true, hit_f, hit_t) — the
    * integer hit counts [[phashIvfPolicy]] decides on. */
  private def phashIvfPolicySqlCtes: String = {
    val rounds = (0 until PhashTrainIters)
      .map(phashTrainRoundSql).mkString(",\n      ")
    s"""$phashIvfCellsSql,
      cents0 AS (SELECT cid, cent FROM cents),
      $rounds,
      ${phashIvfServeSqlFrom("cents")},
      ${phashIvfServeSqlFrom(s"cents$PhashTrainIters", "_t")},
      brute AS (
        SELECT probe_id, doc_id FROM (
          SELECT p.probe_id, s.doc_id,
                 row_number() OVER (PARTITION BY p.probe_id
                   ORDER BY bit_count(xor(s.phash, p.probe_hash)),
                            s.doc_id) AS rk
          FROM sk s CROSS JOIN iprobes p)
        WHERE rk <= $PhashTopK),
      apx AS (
        SELECT probe_id, doc_id FROM ivf_ranked WHERE rk <= $PhashTopK),
      apx_t AS (
        SELECT probe_id, doc_id FROM ivf_ranked_t WHERE rk <= $PhashTopK),
      pol AS (
        SELECT (SELECT count(*) FROM brute) AS n_true,
               (SELECT count(*) FROM brute b JOIN apx a
                  ON b.probe_id = a.probe_id AND b.doc_id = a.doc_id)
                 AS hit_f,
               (SELECT count(*) FROM brute b JOIN apx_t a
                  ON b.probe_id = a.probe_id AND b.doc_id = a.doc_id)
                 AS hit_t)"""
  }

  /** The pair SELECT over the `sk` CTE: a<b, exact bit_count at the
    * radius. No ORDER BY — callers append theirs (a CTE body must not
    * carry one). */
  private def phashPairsSelect: String = s"""
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
      FROM sk a JOIN sk b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.phash, b.phash)) <= $PhashHammingMax"""
}
