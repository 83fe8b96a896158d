package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: media as opaque `binary` content + typed
  * metadata struct, with decode/feature-extraction as partition-batched
  * transforms (the Scala analog of `mapInPandas` batch UDFs).
  *
  * Container-level decode is REAL for five formats — [[decodePngMeta]]
  * (signature + IHDR big-endian fields + chunk CRC-32), [[decodeJpegMeta]]
  * (SOI + a bounded segment walk to the data-dependent SOF frame header),
  * [[decodeGifMeta]], [[decodeWavMeta]], [[decodeMp4Meta]] — pure byte
  * arithmetic over codegen'd builtins (`substring`/`hex`/`conv`/`crc32`),
  * no codec library, no UDF.
  *
  * CONTENT-level decode is real for three of them: PNG pixels
  * ([[imageContentStats]] — zlib inflate + all five unfilters via
  * [[PngGrayStats]], feeding the perceptual-hash near-dup
  * ([[imageNearDupPairs]]) and pixel-quality ([[imageQualityScreen]])
  * operators), baseline-JPEG luma ([[jpegContentStats]] — pure-JVM
  * T.81 Huffman + IDCT via [[JpegGrayStats]], same stat/hash shape so
  * every downstream verb composes), and PCM WAV samples
  * ([[audioContentStats]] via [[WavPcmStats]]). GIF's LZW raster and
  * MP4's video payloads remain metadata-only — a real video codec is
  * out of pure-JVM reach, unlike zlib and Huffman+IDCT;
  * [[extractFeatures]]' byte-histogram features cover them with a real,
  * deterministic featurizer over the raw bytes.
  */
object Multimodal {

  /** Canonical multimodal schema: id + opaque bytes + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("n_bytes", LongType),
      StructField("tag", StringType))))))

  /** Wrap a text table as a media table (bytes = utf-8 of text) — the
    * testdata has no binary media, so documents stand in. */
  def asMedia(docs: DataFrame, idCol: String, textCol: String,
      tagCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      encode(col(textCol), "utf-8").as("content"),
      struct(lit("text/plain").as("format"),
        octet_length(encode(col(textCol), "utf-8")).cast("long").as("n_bytes"),
        col(tagCol).as("tag")).as("meta"))

  /** Frame sampling: split the opaque content into fixed-size byte frames
    * and keep every `every`-th one — the video-keyframe execution shape
    * (one output row per sampled frame, explode-fanout, all declarative:
    * the per-frame slice is a codegen'd binary substring, no UDF). With a
    * real container format the frame boundaries come from the codec index
    * instead of fixed offsets; the plumbing — fanout, ordering, per-frame
    * metadata — is identical. */
  def frameSample(media: DataFrame, frameBytes: Int = 64,
      every: Int = 2): DataFrame = {
    require(frameBytes > 0 && every > 0, "frameBytes and every must be positive")
    val nBytes = col("meta.n_bytes")
    val nFrames = ceil(nBytes.cast("double") / frameBytes).cast("long")
    media
      .withColumn("frame_idx",
        explode(when(nFrames > 0, sequence(lit(0L), nFrames - 1))
          .otherwise(array().cast("array<bigint>"))))
      .filter(col("frame_idx") % every === 0)
      .select(col("media_id"), col("frame_idx"),
        expr(s"substring(content, frame_idx * $frameBytes + 1, $frameBytes)")
          .as("frame"))
  }

  // ---------------- PNG container codec (header-level) ----------------

  /** 4-byte big-endian encoding of an integer column (PNG's integer
    * wire format): zero-padded hex -> bytes. */
  private def be4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unhex(lpad(hex(c.cast("long")), 8, "0"))

  /** Big-endian integer decode of `len` bytes of `content` at 1-based
    * `pos`. */
  private def beInt(pos: Int, len: Int): org.apache.spark.sql.Column =
    conv(hex(expr(s"substring(content, $pos, $len)")), 16, 10).cast("long")

  private val pngSigHex = "89504E470D0A1A0A"
  // 00 00 00 00 "IEND" + the IEND CRC (constant: crc32 over "IEND")
  private val iendHex = "0000000049454E44AE426082"

  /** Assemble a minimal standards-layout PNG: signature, IHDR chunk
    * (13-byte payload: width, height, bit depth 8, color type 2 =
    * truecolor, compression/filter/interlace 0) with its real CRC-32
    * (computed over chunk type + payload, per the PNG spec), and an IEND
    * chunk. No IDAT — header-complete, pixel-free; the deterministic
    * fixture generator for [[decodePngMeta]]. Fully declarative: every
    * step is a codegen'd builtin, so synthesis runs distributed. */
  def syntheticPng(df: DataFrame, idCol: String, widthCol: String,
      heightCol: String): DataFrame = {
    val ihdrPayload = concat(
      be4(col(widthCol)), be4(col(heightCol)),
      unhex(lit("0802000000"))) // depth 8, truecolor, defaults
    // 49484452 = "IHDR"; the CRC covers chunk type + payload (PNG spec §5.3)
    val typeAndData = concat(unhex(lit("49484452")), ihdrPayload)
    val ihdrChunk = concat(be4(lit(13)), typeAndData, be4(crc32(typeAndData)))
    df.select(col(idCol).cast("long").as("media_id"),
      concat(unhex(lit(pngSigHex)), ihdrChunk, unhex(lit(iendHex)))
        .as("content"))
  }

  /** Parse PNG container metadata from the raw bytes: signature check,
    * IHDR width/height/bit-depth/color-type (big-endian fields at fixed
    * offsets — the IHDR chunk MUST be first per the PNG spec), and CRC
    * verification of the IHDR chunk (crc32 over bytes 13..29: type +
    * payload, compared to the stored CRC at bytes 30..33). Non-PNG
    * content yields sig_ok=false with null fields — decode never throws
    * on dirty data (the 100 TB crawl reality). All codegen'd builtins;
    * the scan stays in one WholeStageCodegen span. */
  def decodePngMeta(media: DataFrame): DataFrame = {
    val sigOk = hex(expr("substring(content, 1, 8)")) === lit(pngSigHex)
    val typeOk = hex(expr("substring(content, 13, 4)")) === lit("49484452")
    val crcStored = beInt(30, 4)
    val crcComputed = crc32(expr("substring(content, 13, 17)"))
    val ok = sigOk && typeOk
    media.select(
      col("media_id"),
      ok.as("sig_ok"),
      when(ok, beInt(17, 4)).as("width"),
      when(ok, beInt(21, 4)).as("height"),
      when(ok, beInt(25, 1)).as("bit_depth"),
      when(ok, beInt(26, 1)).as("color_type"),
      when(ok, crcStored === crcComputed).otherwise(lit(false)).as("crc_ok"))
  }

  // ---------------- JPEG container codec (header-level) ----------------

  /** 2-byte big-endian encoding of an integer column (JPEG's 16-bit wire
    * fields). */
  private def be2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unhex(lpad(hex(c.cast("long")), 4, "0"))

  /** Big-endian integer decode of `len` bytes at a COLUMN (1-based)
    * position — JPEG segment offsets are data-dependent, unlike PNG's
    * fixed IHDR layout. */
  private def beIntAt(pos: org.apache.spark.sql.Column,
      len: Int): org.apache.spark.sql.Column =
    conv(hex(col("content").substr(pos.cast("int"), lit(len))), 16, 10)
      .cast("long")

  /** 1-based position of the SOF marker's 0xFF byte, or NULL when no SOF
    * appears within `maxSegments` segments. JPEG is a marker stream: after
    * SOI (FFD8), each segment is FF <marker> <2-byte BE length including
    * itself>; the frame header (SOF0 baseline / SOF1 / SOF2 progressive /
    * SOF3 lossless) sits at a data-dependent offset behind APPn/DQT/DHT
    * segments. The walk is a bounded `aggregate` fold whose accumulator
    * carries (next position, found SOF position): the position is a bound
    * LAMBDA VARIABLE, referenced O(1) per step — a nested-CASE unroll
    * would re-inline the whole position expression at every depth and
    * grow the tree (and its evaluation) exponentially with maxSegments
    * (measured: 32 s vs 0.3 s over 5k rows at depth 8). Real camera
    * headers put SOF within the first handful of segments. */
  private def sofPos(maxSegments: Int): org.apache.spark.sql.Column = {
    val c = col("content")
    val nullPos = lit(null).cast("long")
    aggregate(
      sequence(lit(1), lit(maxSegments)),
      struct(lit(3L).as("pos"), nullPos.as("sof")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val sof = acc.getField("sof")
        val active = sof.isNull && pos.isNotNull
        val ffOk = hex(c.substr(pos.cast("int"), lit(1))) === "FF"
        val marker = hex(c.substr((pos + 1).cast("int"), lit(1)))
        val segLen =
          conv(hex(c.substr((pos + 2).cast("int"), lit(2))), 16, 10).cast("long")
        val isSof = ffOk && marker.isin("C0", "C1", "C2", "C3")
        // EOI / SOS: no frame header before entropy data -> walk dies
        val dead = !ffOk || marker.isin("D9", "DA")
        struct(
          when(!active, pos)
            .when(isSof || dead, nullPos)
            .otherwise(pos + 2 + segLen).as("pos"),
          when(!active, sof).when(isSof, pos).otherwise(nullPos).as("sof"))
      },
      acc => acc.getField("sof"))
  }

  /** Assemble a minimal standards-layout JPEG: SOI, an APP0/JFIF segment
    * (so SOF is NOT at a fixed offset — the decoder must walk), a SOF0
    * baseline frame header (precision 8, one grayscale component), EOI.
    * Header-complete, entropy-free; the fixture generator for
    * [[decodeJpegMeta]]. All codegen'd builtins. */
  def syntheticJpeg(df: DataFrame, idCol: String, widthCol: String,
      heightCol: String): DataFrame = {
    // FFE0 len=16, "JFIF\0", version 1.1, units 0, density 1x1, no thumb
    val app0 = unhex(lit("FFE000104A464946000101000001000100" + "00"))
    val sof0 = concat(unhex(lit("FFC0000B08")), // marker, len=11, precision 8
      be2(col(heightCol)), be2(col(widthCol)),
      unhex(lit("01011100"))) // 1 component: id 1, sampling 1x1, qtable 0
    df.select(col(idCol).cast("long").as("media_id"),
      concat(unhex(lit("FFD8")), app0, sof0, unhex(lit("FFD9"))).as("content"))
  }

  /** Parse JPEG container metadata: SOI signature, the segment walk to
    * SOF0–SOF3, big-endian height/width/precision/component-count from the
    * frame header, and an EOI-trailer structural check (JPEG has no CRC).
    * Non-JPEG or SOF-less content yields sig_ok=false / null fields —
    * never throws on dirty bytes. */
  def decodeJpegMeta(media: DataFrame, maxSegments: Int = 8): DataFrame = {
    // the walk materializes ONCE per row (its own projection — the fold is
    // not cheap, so the field reads below must reference it, not re-run it)
    val staged = media.withColumn("__sof", sofPos(maxSegments))
    val sigOk = hex(expr("substring(content, 1, 2)")) === "FFD8"
    val sof = col("__sof")
    val ok = sigOk && sof.isNotNull
    val tail = col("content").substr(octet_length(col("content")) - 1, lit(2))
    staged.select(
      col("media_id"),
      ok.as("sig_ok"),
      when(ok, beIntAt(sof + 7, 2)).as("width"),
      when(ok, beIntAt(sof + 5, 2)).as("height"),
      when(ok, beIntAt(sof + 4, 1)).as("precision"),
      when(ok, beIntAt(sof + 9, 1)).as("n_components"),
      when(ok, hex(tail) === "FFD9").otherwise(lit(false)).as("eoi_ok"))
  }

  // ---------------- GIF container codec (header-level) ----------------

  /** 2-byte LITTLE-endian encoding (GIF's 16-bit wire fields — opposite
    * byte order from PNG/JPEG). */
  private def le2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(unhex(lpad(hex(c.cast("long") % 256), 2, "0")),
      unhex(lpad(hex(c.cast("long").divide(256).cast("long")), 2, "0")))

  /** Little-endian integer decode of 2 bytes at fixed 1-based `pos`. */
  private def leInt2(pos: Int): org.apache.spark.sql.Column =
    beInt(pos, 1) + beInt(pos + 1, 1) * 256

  /** Assemble a minimal standards-layout GIF89a: signature + version,
    * logical screen descriptor (width/height little-endian, no global
    * color table), trailer (0x3B). The fixture generator for
    * [[decodeGifMeta]]. */
  def syntheticGif(df: DataFrame, idCol: String, widthCol: String,
      heightCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      concat(unhex(lit("474946383961")), // "GIF89a"
        le2(col(widthCol)), le2(col(heightCol)),
        unhex(lit("000000")), // packed (no GCT), bg index, aspect
        unhex(lit("3B"))).as("content"))

  /** Parse GIF container metadata: signature ("GIF87a"/"GIF89a"), the
    * logical screen descriptor's little-endian width/height, the global-
    * color-table flag from the packed byte, and a trailer structural
    * check. Dirty bytes degrade to sig_ok=false / nulls, never throw. */
  def decodeGifMeta(media: DataFrame): DataFrame = {
    val sig = hex(expr("substring(content, 1, 6)"))
    val sigOk = sig.isin("474946383761", "474946383961")
    val tail = col("content").substr(octet_length(col("content")), lit(1))
    media.select(
      col("media_id"),
      sigOk.as("sig_ok"),
      when(sigOk, decode(expr("substring(content, 4, 3)"), "utf-8"))
        .as("version"),
      when(sigOk, leInt2(7)).as("width"),
      when(sigOk, leInt2(9)).as("height"),
      when(sigOk, beInt(11, 1) >= 128).as("has_gct"),
      when(sigOk, hex(tail) === "3B").otherwise(lit(false)).as("trailer_ok"))
  }

  // ---------------- WAV container codec (header-level) ----------------

  /** Little-endian integer decode of `len` bytes at a COLUMN position
    * (RIFF offsets are data-dependent: chunks walk). */
  private def leIntAt(pos: org.apache.spark.sql.Column,
      len: Int): org.apache.spark.sql.Column =
    (0 until len).map { i =>
      conv(hex(col("content").substr((pos + i).cast("int"), lit(1))), 16, 10)
        .cast("long") * lit(1L << (8 * i))
    }.reduce(_ + _)

  /** `len`-byte little-endian encoding of an integer column. */
  private def leN(c: org.apache.spark.sql.Column, len: Int): org.apache.spark.sql.Column =
    concat((0 until len).map { i =>
      unhex(lpad(hex(c.cast("long").divide(math.pow(256, i).toLong).cast("long") % 256),
        2, "0"))
    }: _*)

  /** RIFF chunk walk: fold over up to `maxChunks` chunks starting at byte
    * 13 (after RIFF size + WAVE), recording the `fmt ` chunk's payload
    * position and the `data` chunk's size. Same bounded-`aggregate` shape
    * as the JPEG segment walk (state as lambda variables — never an
    * expression unroll). Chunk sizes are padded to even per the RIFF
    * spec. */
  private def wavChunks(maxChunks: Int): org.apache.spark.sql.Column = {
    val c = col("content")
    val nullL = lit(null).cast("long")
    aggregate(
      sequence(lit(1), lit(maxChunks)),
      struct(lit(13L).as("pos"), nullL.as("fmt"), nullL.as("data_size")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val fmt = acc.getField("fmt")
        val dataSize = acc.getField("data_size")
        val id = c.substr(pos.cast("int"), lit(4)).cast("string")
        val size = leIntAt(pos + 4, 4)
        val valid = pos.isNotNull &&
          octet_length(c) >= (pos + 7).cast("int") && size.isNotNull
        val next = pos + 8 + size + (size % 2) // RIFF pads odd chunks
        struct(
          when(!valid, nullL).otherwise(next).as("pos"),
          when(valid && id === "fmt " && fmt.isNull, pos + 8)
            .otherwise(fmt).as("fmt"),
          when(valid && id === "data" && dataSize.isNull, size)
            .otherwise(dataSize).as("data_size"))
      })
  }

  /** Assemble a minimal standards-layout PCM WAV: RIFF/WAVE header, `fmt `
    * chunk (PCM, per-row channels + sample rate, 16-bit), `data` chunk of
    * `dataBytesCol` zero bytes (even values only in fixtures). The fixture
    * generator for [[decodeWavMeta]]; all codegen'd builtins. */
  def syntheticWav(df: DataFrame, idCol: String, channelsCol: String,
      sampleRateCol: String, dataBytesCol: String): DataFrame = {
    val ch = col(channelsCol).cast("long")
    val sr = col(sampleRateCol).cast("long")
    val db = col(dataBytesCol).cast("long")
    val byteRate = sr * ch * 2 // 16-bit PCM
    val fmtChunk = concat(lit("fmt ").cast("binary"), leN(lit(16L), 4),
      leN(lit(1L), 2), leN(ch, 2), leN(sr, 4), leN(byteRate, 4),
      leN(ch * 2, 2), leN(lit(16L), 2))
    val dataChunk = concat(lit("data").cast("binary"), leN(db, 4),
      unhex(expr(s"repeat('00', cast($dataBytesCol as int))")))
    val payload = concat(lit("WAVE").cast("binary"), fmtChunk, dataChunk)
    df.select(col(idCol).cast("long").as("media_id"),
      concat(lit("RIFF").cast("binary"), leN(octet_length(payload).cast("long"), 4),
        payload).as("content"))
  }

  /** Parse WAV container metadata: RIFF/WAVE signature, the chunk walk to
    * `fmt ` (PCM flag, channels, sample rate, bits/sample — all
    * LITTLE-endian) and `data` (payload size), plus the derived duration
    * in milliseconds (data bytes over byte rate). Dirty bytes degrade to
    * sig_ok=false / nulls, never throw. */
  def decodeWavMeta(media: DataFrame, maxChunks: Int = 8): DataFrame = {
    val staged = media.withColumn("__w", wavChunks(maxChunks))
    val sigOk = expr("substring(content, 1, 4)").cast("string") === "RIFF" &&
      expr("substring(content, 9, 4)").cast("string") === "WAVE"
    val fmt = col("__w.fmt")
    val dataSize = col("__w.data_size")
    val ok = sigOk && fmt.isNotNull
    val byteRate = leIntAt(fmt + 8, 4)
    staged.select(
      col("media_id"),
      ok.as("sig_ok"),
      when(ok, leIntAt(fmt, 2) === 1).as("is_pcm"),
      when(ok, leIntAt(fmt + 2, 2)).as("channels"),
      when(ok, leIntAt(fmt + 4, 4)).as("sample_rate"),
      when(ok, leIntAt(fmt + 14, 2)).as("bits_per_sample"),
      when(ok, dataSize).as("data_bytes"),
      when(ok && byteRate > 0, (dataSize * 1000L / byteRate).cast("long"))
        .as("duration_ms"))
  }

  // ---------------- MP4 / ISO-BMFF container codec (header-level) -------

  /** Position of a box's PAYLOAD within [lo, hi): fold over up to
    * `maxBoxes` siblings ([size BE4][type 4] each), returning the payload
    * position of the first box whose type is `boxType`, else null. The
    * generic ISO-BMFF walker — applied twice (top level to `moov`, then
    * moov's children to `mvhd`). */
  private def boxPayload(lo: org.apache.spark.sql.Column,
      hi: org.apache.spark.sql.Column, boxType: String,
      maxBoxes: Int): org.apache.spark.sql.Column = {
    val c = col("content")
    val nullL = lit(null).cast("long")
    aggregate(
      sequence(lit(1), lit(maxBoxes)),
      struct(lo.as("pos"), nullL.as("found")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val found = acc.getField("found")
        val size = conv(hex(c.substr(pos.cast("int"), lit(4))), 16, 10)
          .cast("long")
        val tpe = c.substr((pos + 4).cast("int"), lit(4)).cast("string")
        val valid = found.isNull && pos.isNotNull && pos < hi && size >= 8
        struct(
          when(!valid, nullL).otherwise(pos + size).as("pos"),
          when(valid && tpe === boxType, pos + 8)
            .otherwise(found).as("found"))
      },
      acc => acc.getField("found"))
  }

  /** Assemble a minimal standards-layout MP4: `ftyp` (major brand isom) +
    * `moov` containing a version-0 `mvhd` (per-row timescale + duration,
    * remaining fields zero). Header-complete, sample-free; the fixture
    * generator for [[decodeMp4Meta]]. */
  def syntheticMp4(df: DataFrame, idCol: String, timescaleCol: String,
      durationCol: String): DataFrame = {
    val ftyp = concat(be4(lit(16)), lit("ftyp").cast("binary"),
      lit("isom").cast("binary"), be4(lit(0)))
    // mvhd v0: [size][type][ver+flags 4][creation 4][mod 4][timescale 4]
    // [duration 4][rate 4][volume+reserved 6][reserved 8][matrix 36]
    // [predefined 24][next_track 4] = 108 bytes total
    val mvhd = concat(be4(lit(108)), lit("mvhd").cast("binary"),
      be4(lit(0)), be4(lit(0)), be4(lit(0)),
      be4(col(timescaleCol)), be4(col(durationCol)),
      unhex(lit("00" * 76)))
    val moov = concat(be4(octet_length(mvhd) + 8), lit("moov").cast("binary"),
      mvhd)
    df.select(col(idCol).cast("long").as("media_id"),
      concat(ftyp, moov).as("content"))
  }

  /** Parse MP4/ISO-BMFF container metadata: `ftyp` major brand, the box
    * walk to `moov` then its `mvhd` child, big-endian timescale/duration
    * and the derived duration in milliseconds. Files without a moov
    * within `maxBoxes` top-level boxes (or non-BMFF bytes) degrade to
    * sig_ok=false / nulls. */
  def decodeMp4Meta(media: DataFrame, maxBoxes: Int = 8): DataFrame = {
    val c = col("content")
    val sigOk = c.substr(lit(5), lit(4)).cast("string") === "ftyp" &&
      beInt(1, 4) >= 16
    val staged = media
      .withColumn("__moov", boxPayload(lit(1L), octet_length(c).cast("long") + 1,
        "moov", maxBoxes))
      .withColumn("__mvhd", boxPayload(col("__moov"),
        octet_length(c).cast("long") + 1, "mvhd", maxBoxes))
    val mvhd = col("__mvhd")
    val ok = sigOk && mvhd.isNotNull
    val timescale = conv(hex(c.substr((mvhd + 12).cast("int"), lit(4))), 16, 10)
      .cast("long")
    val duration = conv(hex(c.substr((mvhd + 16).cast("int"), lit(4))), 16, 10)
      .cast("long")
    staged.select(
      col("media_id"),
      ok.as("sig_ok"),
      when(sigOk, c.substr(lit(9), lit(4)).cast("string")).as("brand"),
      when(ok, timescale).as("timescale"),
      when(ok, duration).as("duration"),
      when(ok && timescale > 0, (duration * 1000L / timescale).cast("long"))
        .as("duration_ms"))
  }

  final case class MediaFeature(media_id: Long, n_bytes: Long, dim: Int,
      features: Array[Float])

  /** Deterministic fake "decode + feature extract": byte histogram folded
    * into `dim` buckets, L1-normalized. STUB — replace with a real codec
    * for production media. Runs partition-batched: one feature buffer per
    * partition, no per-row allocation churn, the same execution shape a
    * real decoder needs. */
  def extractFeatures(media: DataFrame, dim: Int = 16): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val out: Dataset[MediaFeature] = media
      .select(col("media_id"), col("content"), col("meta.n_bytes").as("n_bytes"))
      .mapPartitions { rows =>
        val buf = new Array[Float](dim) // reused per batch element
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val nb = r.getLong(2)
          java.util.Arrays.fill(buf, 0.0f)
          var i = 0
          while (i < bytes.length) { buf((bytes(i) & 0xff) % dim) += 1.0f; i += 1 }
          val total = math.max(1, bytes.length).toFloat
          val feats = new Array[Float](dim)
          var j = 0
          while (j < dim) { feats(j) = buf(j) / total; j += 1 }
          MediaFeature(id, nb, dim, feats)
        }
      }
    out.toDF()
  }

  // ---------------- content leg (real pixel / sample decode) ----------

  /** Synthesize a REAL grayscale-PNG corpus from an id frame — one
    * [[GrayPngEncode]] image per row, parameters derived from the id so
    * [[seed]]-sharing rows form near-dup clusters. Runs distributed
    * (the encoder is an expression inside the projection). */
  def syntheticGrayPngCorpus(df: DataFrame, idCol: String, seed: Column,
      w: Column, h: Column, bump: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      GrayPngEncode(seed.cast("long"), w.cast("long"), h.cast("long"),
        lit(11L), lit(5L), bump.cast("long")).as("content"))

  /** Block-flat baseline-JPEG corpus as a deterministic function of
    * (idCol, seed) — the JPEG twin of [[syntheticGrayPngCorpus]]
    * ([[BlockJpegEncode]]'s documented block formula; DC-only blocks
    * round-trip exactly, so an oracle replays the decoded pixels). */
  def syntheticBlockJpegCorpus(df: DataFrame, idCol: String, seed: Column,
      wBlocks: Column, hBlocks: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      BlockJpegEncode(seed.cast("long"), wBlocks.cast("long"),
        hBlocks.cast("long")).as("content"))

  /** PROGRESSIVE (SOF2) block-flat JPEG corpus — the same documented
    * block contract as [[syntheticBlockJpegCorpus]], written as three
    * progressive scans (successive-approximation DC + EOBRUN AC), so
    * the baseline oracle chain replays it verbatim while the engine
    * must run the T.81 Annex G multi-scan accumulation. */
  def syntheticProgJpegCorpus(df: DataFrame, idCol: String, seed: Column,
      wBlocks: Column, hBlocks: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      ProgJpegEncode(seed.cast("long"), wBlocks.cast("long"),
        hBlocks.cast("long")).as("content"))

  /** PALETTE PNG corpus (color type 3, 64-entry PLTE, documented
    * entry/index formulas — see [[PalettePngEncode]]); the engine must
    * remap every index through the PLTE lumas. */
  def syntheticPalettePngCorpus(df: DataFrame, idCol: String, seed: Column,
      w: Column, h: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      PalettePngEncode(seed.cast("long"), w.cast("long"),
        h.cast("long")).as("content"))

  /** SUB-BYTE grayscale PNG corpus (bit depths 1/2/4 — web furniture:
    * bilevel scans, small-palette-free gray assets) under
    * [[GraySubPngEncode]]'s documented level/luma contract. */
  def syntheticGraySubPngCorpus(df: DataFrame, idCol: String,
      seed: Column, w: Column, h: Column, depth: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      GraySubPngEncode(seed.cast("long"), w.cast("long"), h.cast("long"),
        depth.cast("long")).as("content"))

  /** ADAM7-INTERLACED grayscale PNG corpus with the SAME pixel
    * contract as [[syntheticGrayPngCorpus]] — the PNG oracle chain
    * replays it verbatim; the engine must deinterlace seven passes. */
  def syntheticAdam7PngCorpus(df: DataFrame, idCol: String, seed: Column,
      w: Column, h: Column, bump: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      Adam7PngEncode(seed.cast("long"), w.cast("long"), h.cast("long"),
        lit(11L), lit(5L), bump.cast("long")).as("content"))

  /** [[imageContentStats]] for baseline JPEG content — same 14-column
    * shape (the hashes are container-agnostic), fed by the
    * [[JpegGrayStats]] Huffman+IDCT luma decode instead of the PNG
    * inflate. Near-dup machinery composes unchanged:
    * `Hamming64.pairs(jpegContentStats(m), "media_id", "ahash", r)`. */
  def jpegContentStats(media: DataFrame): DataFrame =
    statsOf(media.withColumn("__s", JpegGrayStats(col("content"))))

  /** Container-sniffing stats over a MIXED image column (PNG, JPEG,
    * GIF, BMP and TIFF interleaved, the crawl reality): one scan, one
    * fingerprint space — two containers holding the same picture land
    * in the same Hamming ball. [[ImageGrayStats]] routes per row on
    * magic bytes. */
  def mixedImageContentStats(media: DataFrame): DataFrame =
    statsOf(media.withColumn("__s", ImageGrayStats(col("content"))))

  /** Literal-LZW grayscale GIF corpus with the SAME pixel contract as
    * [[syntheticGrayPngCorpus]] — one oracle pixel chain replays both
    * containers. */
  def syntheticGrayGifCorpus(df: DataFrame, idCol: String, seed: Column,
      w: Column, h: Column, bump: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      GrayGifEncode(seed.cast("long"), w.cast("long"), h.cast("long"),
        lit(11L), lit(5L), bump.cast("long")).as("content"))

  /** [[imageContentStats]] for GIF content (LZW raster decode via
    * [[GifGrayStats]]) — same 14-column shape, same hash space. */
  def gifContentStats(media: DataFrame): DataFrame =
    statsOf(media.withColumn("__s", GifGrayStats(col("content"))))

  /** Lossless-WebP (VP8L) corpus with the SAME pixel contract as
    * [[syntheticGrayPngCorpus]] — one oracle pixel chain replays the
    * webp container too; every image carries the subtract-green
    * transform, so the inverse transform is load-bearing per row. */
  def syntheticGrayWebpCorpus(df: DataFrame, idCol: String, seed: Column,
      w: Column, h: Column, bump: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      GrayWebpEncode(seed.cast("long"), w.cast("long"), h.cast("long"),
        lit(11L), lit(5L), bump.cast("long")).as("content"))

  /** [[imageContentStats]] for lossless-WebP content ([[WebpGrayStats]]
    * VP8L entropy decode) — same 14-column shape, same hash space. */
  def webpContentStats(media: DataFrame): DataFrame =
    statsOf(media.withColumn("__s", WebpGrayStats(col("content"))))

  /** Single-entry ICO corpus with the SAME pixel contract as
    * [[syntheticGrayPngCorpus]] — even `pngEntry` rows wrap a real PNG
    * payload (the modern favicon), odd rows a raw doubled-height DIB
    * (the classic form); one oracle chain replays both. */
  def syntheticGrayIcoCorpus(df: DataFrame, idCol: String, seed: Column,
      w: Column, h: Column, bump: Column, pngEntry: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      GrayIcoEncode(seed.cast("long"), w.cast("long"), h.cast("long"),
        lit(11L), lit(5L), bump.cast("long"), pngEntry).as("content"))

  /** [[imageContentStats]] for ICO content ([[IcoGrayStats]] largest-
    * entry decode, PNG or raw-DIB payloads) — same shape, same hash
    * space. */
  def icoContentStats(media: DataFrame): DataFrame =
    statsOf(media.withColumn("__s", IcoGrayStats(col("content"))))

  /** Uncompressed 24-bit BMP corpus with the SAME pixel contract as
    * [[syntheticGrayPngCorpus]] (gray written as R=G=B, so the BT.601
    * luma is exactly the pixel) — one oracle chain replays all three
    * lossless containers. */
  def syntheticGrayBmpCorpus(df: DataFrame, idCol: String, seed: Column,
      w: Column, h: Column, bump: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      GrayBmpEncode(seed.cast("long"), w.cast("long"), h.cast("long"),
        lit(11L), lit(5L), bump.cast("long")).as("content"))

  /** 8-bit gray baseline-TIFF corpus with the SAME pixel contract as
    * [[syntheticGrayPngCorpus]] — one oracle pixel chain replays all
    * four lossless containers. */
  def syntheticGrayTiffCorpus(df: DataFrame, idCol: String, seed: Column,
      w: Column, h: Column, bump: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      GrayTiffEncode(seed.cast("long"), w.cast("long"), h.cast("long"),
        lit(11L), lit(5L), bump.cast("long")).as("content"))

  /** [[imageContentStats]] for baseline-TIFF content ([[TiffGrayStats]]
    * IFD walk, gray8/RGB8 strips) — same 14-column shape, same hash
    * space. */
  def tiffContentStats(media: DataFrame): DataFrame =
    statsOf(media.withColumn("__s", TiffGrayStats(col("content"))))

  /** [[imageContentStats]] for BMP content ([[BmpGrayStats]] header
    * walk + BGR luma) — same 14-column shape, same hash space. */
  def bmpContentStats(media: DataFrame): DataFrame =
    statsOf(media.withColumn("__s", BmpGrayStats(col("content"))))

  /** Decode PNG content to per-image pixel statistics + perceptual
    * hashes — ONE [[PngGrayStats]] evaluation per row, flattened. The
    * full 64-bit fingerprints are rebuilt from the hi/lo halves for
    * [[imageNearDupPairs]]. Zero shuffle; at 100 TB this is a linear
    * scan emitting 13 small columns per image. */
  def imageContentStats(media: DataFrame): DataFrame =
    statsOf(media.withColumn("__s", PngGrayStats(col("content"))))

  private def statsOf(media: DataFrame): DataFrame =
    media
      .select(col("media_id"), col("__s.ok").as("ok"),
        col("__s.width").as("width"), col("__s.height").as("height"),
        col("__s.n_px").as("n_px"), col("__s.sum_luma").as("sum_luma"),
        col("__s.mean_milli").as("mean_milli"),
        col("__s.var_milli").as("var_milli"),
        col("__s.ahash_hi").as("ahash_hi"), col("__s.ahash_lo").as("ahash_lo"),
        col("__s.dhash_hi").as("dhash_hi"), col("__s.dhash_lo").as("dhash_lo"),
        shiftleft(col("__s.ahash_hi"), 32).bitwiseOR(col("__s.ahash_lo"))
          .as("ahash"),
        shiftleft(col("__s.dhash_hi"), 32).bitwiseOR(col("__s.dhash_lo"))
          .as("dhash"))

  /** Image near-duplicate pairs by perceptual hash: decode → aHash →
    * [[Hamming64.pairs]] (banded candidate join, exact recall to
    * Hamming ≤ 6, never all-pairs). Output (i, j, hamming), i < j. */
  def imageNearDupPairs(media: DataFrame, maxHamming: Int = 4): DataFrame =
    Hamming64.pairs(
      imageContentStats(media).filter(col("ahash_hi").isNotNull),
      "media_id", "ahash", maxHamming)

  /** Content-derived image quality screen over [[imageContentStats]]
    * output — the pixel-level flags a crawl pipeline drops on:
    * undecodable bytes, images below a pixel floor, extreme aspect
    * ratios (banner/sliver artwork), near-blank frames (luma variance
    * under `minVarMilli` — solid fills, tracking pixels). All exact
    * integer comparisons; `keep` is the conjunction. */
  def imageQualityScreen(stats: DataFrame, minPx: Long = 64L,
      maxAspect: Long = 4L, minVarMilli: Long = 100L): DataFrame =
    stats.select(col("media_id"),
        (!col("ok")).as("undecodable"),
        (col("ok") && col("n_px") < minPx).as("too_small"),
        (col("ok") && greatest(col("width"), col("height")) >
          least(col("width"), col("height")) * maxAspect).as("extreme_aspect"),
        (col("ok") && col("var_milli") < minVarMilli).as("near_blank"))
      .withColumn("keep", !col("undecodable") && !col("too_small") &&
        !col("extreme_aspect") && !col("near_blank"))

  /** Synthesize a REAL mono 16-bit PCM WAV corpus ([[PcmWavEncode]]),
    * distributed. */
  def syntheticPcmCorpus(df: DataFrame, idCol: String, seed: Column,
      nSamples: Column, sampleRate: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      PcmWavEncode(seed.cast("long"), nSamples.cast("long"),
        sampleRate.cast("long")).as("content"))

  /** Synthesize a BAND-PROFILE WAV corpus ([[ToneWavEncode]]) — the
    * spectral-fingerprint fixture: same-class bumps are near-dups,
    * distinct classes land far apart in Hamming. Distributed. */
  def syntheticToneCorpus(df: DataFrame, idCol: String, cls: Column,
      bump: Column, nSamples: Column, sampleRate: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      ToneWavEncode(cls.cast("long"), bump.cast("long"),
        nSamples.cast("long"), sampleRate.cast("long")).as("content"))

  /** Decode PCM-WAV content to the class-discriminating SPECTRAL
    * fingerprint ([[WavSpectralStats]] — 8 windows × 8 square-wave
    * bands, mean-thresholded), flattened, with the rebuilt 64-bit
    * fingerprint for [[Hamming64]]. Zero shuffle — the audio twin of
    * [[imageContentStats]]' hash columns. */
  def audioSpectralStats(media: DataFrame): DataFrame =
    media.withColumn("__s", WavSpectralStats(col("content")))
      .select(col("media_id"), col("__s.ok").as("ok"),
        col("__s.n_samples").as("n_samples"),
        col("__s.sfp_hi").as("sfp_hi"), col("__s.sfp_lo").as("sfp_lo"),
        shiftleft(col("__s.sfp_hi"), 32).bitwiseOR(col("__s.sfp_lo"))
          .as("sfp"))

  /** Audio near-duplicate pairs by spectral fingerprint: decode →
    * [[WavKernel.spectralFingerprint]] → [[Hamming64.pairs]] (banded
    * candidate join, exact recall to Hamming ≤ 6, never all-pairs) —
    * the audio twin of [[imageNearDupPairs]]. The energy-contour
    * fingerprint is NOT used here (its measured cross-class minima
    * reach 1 — see [[WavKernel.energyFingerprint]]'s caveat); the
    * spectral hash's thresholded filterbank is amplitude-invariant
    * and measured well-separated on the band-profile fixture.
    * Output (i, j, hamming), i < j. */
  def audioNearDupPairs(media: DataFrame, maxHamming: Int = 4): DataFrame =
    Hamming64.pairs(
      audioSpectralStats(media).filter(col("sfp_hi").isNotNull),
      "media_id", "sfp", maxHamming)

  /** Decode PCM-WAV content to loudness/peak/zero-crossing integers and
    * the energy-contour fingerprint ([[WavPcmStats]]), flattened, with
    * the rebuilt 64-bit fingerprint for [[Hamming64]]. Zero shuffle. */
  def audioContentStats(media: DataFrame): DataFrame =
    media.withColumn("__s", WavPcmStats(col("content")))
      .select(col("media_id"), col("__s.ok").as("ok"),
        col("__s.channels").as("channels"),
        col("__s.sample_rate").as("sample_rate"),
        col("__s.n_samples").as("n_samples"),
        col("__s.sum_abs").as("sum_abs"), col("__s.peak_abs").as("peak_abs"),
        col("__s.zero_cross").as("zero_cross"),
        col("__s.fp_hi").as("fp_hi"), col("__s.fp_lo").as("fp_lo"),
        shiftleft(col("__s.fp_hi"), 32).bitwiseOR(col("__s.fp_lo")).as("fp"))

  /** RESAMPLE (audio): decode + exact box-decimation by an integer
    * factor in one native pass ([[PcmResample]]), one output row per
    * resampled sample (media_id, sample_idx, v) — the downsampling /
    * feature-prep step, truncated-mean integers any engine replays.
    * Undecodable clips contribute zero rows. */
  def audioResample(media: DataFrame, factor: Int): DataFrame =
    media.select(col("media_id"),
        posexplode(coalesce(PcmResample(col("content"), factor),
          array().cast("array<bigint>"))))
      .select(col("media_id"), col("pos").cast("long").as("sample_idx"),
        col("col").as("v"))

  /** TRIM-SILENCE bounds per clip ([[PcmTrimBounds]]): how much
    * leading/trailing dead air (full windows under the mean-|sample|
    * floor) a pipeline should cut before feature extraction —
    * (media_id, ok, n_samples, lead_trim, tail_trim, kept), exact
    * integers, zero shuffle. */
  def audioTrimBounds(media: DataFrame, windowSamples: Int = 64,
      minMeanAbsMilli: Long = 50000L): DataFrame =
    media.withColumn("__s",
        PcmTrimBounds(col("content"), windowSamples, minMeanAbsMilli))
      .select(col("media_id"), col("__s.ok").as("ok"),
        col("__s.n_samples").as("n_samples"),
        col("__s.lead_trim").as("lead_trim"),
        col("__s.tail_trim").as("tail_trim"), col("__s.kept").as("kept"))

  /** Content-derived audio quality screen over [[audioContentStats]]
    * output — the sample-level flags a crawl pipeline drops on:
    * undecodable bytes, clips under a sample floor, near-silence
    * (mean |sample| below `minMeanAbsMilli`/1000 — exact integer
    * cross-multiplication, no division), and rail-clipped recordings
    * (peak at/above `clipFloor`). `keep` is the conjunction — the
    * audio twin of [[imageQualityScreen]]. */
  def audioQualityScreen(stats: DataFrame, minSamples: Long = 64L,
      minMeanAbsMilli: Long = 50000L, clipFloor: Long = 32000L): DataFrame =
    stats.select(col("media_id"),
        (!col("ok")).as("undecodable"),
        (col("ok") && col("n_samples") < minSamples).as("too_short"),
        (col("ok") && col("n_samples") > 0 &&
          col("sum_abs") * 1000 < lit(minMeanAbsMilli) * col("n_samples"))
          .as("near_silent"),
        (col("ok") && col("peak_abs") >= clipFloor).as("clipped"))
      .withColumn("keep", !col("undecodable") && !col("too_short") &&
        !col("near_silent") && !col("clipped"))

  /** RESIZE: decode + exact box-downsample to `ow`×`oh` in one native
    * pass ([[PngResizeGray]]), one output row per resized pixel
    * (media_id, px_idx, v) — the thumbnail/embedding-prep step, with
    * floor-mean integers any engine replays. Undecodable or
    * smaller-than-target images contribute zero rows. */
  def imageResize(media: DataFrame, ow: Int, oh: Int): DataFrame =
    media.select(col("media_id"),
        posexplode(coalesce(PngResizeGray(col("content"), ow, oh),
          array().cast("array<bigint>"))))
      .select(col("media_id"), col("pos").cast("long").as("px_idx"),
        col("col").as("v"))

  /** Synthesize a REAL sample-bearing MP4 corpus ([[Mp4SamplesEncode]]:
    * full moov→trak→mdia→minf→stbl chain with true stsz/stco tables),
    * distributed. */
  def syntheticMp4Corpus(df: DataFrame, idCol: String, seed: Column,
      nSamples: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      Mp4SamplesEncode(seed.cast("long"), nSamples.cast("long"))
        .as("content"))

  /** VIDEO content leg: per-sample (frame) rows extracted via the
    * container's OWN index — `stsz` sizes + `stco` offsets out of the
    * stbl walk, each sample's real bytes sliced from `mdat`
    * ([[Mp4SampleTable]]). This is the frame-extraction step before any
    * codec: per-frame payload signals (size, offset, first byte, exact
    * byte sum) for hashing/sampling. Undecodable or sample-table-less
    * rows contribute ZERO rows (never a throw); one expression pass +
    * explode fanout, zero shuffle. */
  def videoSampleStats(media: DataFrame, maxSamples: Int = 4096): DataFrame =
    media.withColumn("__s", Mp4SampleTable(col("content"), maxSamples))
      .select(col("media_id"), explode(col("__s.samples")).as("__e"))
      .select(col("media_id"), col("__e.sample_idx").as("sample_idx"),
        col("__e.sample_offset").as("sample_offset"),
        col("__e.sample_size").as("sample_size"),
        col("__e.first_byte").as("first_byte"),
        col("__e.byte_sum").as("byte_sum"))

  /** Synthesize a REAL G.711 telephony WAV corpus ([[G711WavEncode]]:
    * format tag 6 A-law / 7 μ-law per row, 8-bit mono at 8 kHz,
    * documented payload-byte formula) — expanded to 16-bit linear by
    * the exact integer G.711 formulas on decode, so call-center audio
    * rides the same stats/fingerprint machinery as studio PCM. */
  def syntheticG711Corpus(df: DataFrame, idCol: String, seed: Column,
      nSamples: Column, law: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      G711WavEncode(seed.cast("long"), nSamples.cast("long"),
        law.cast("long")).as("content"))

  /** Synthesize a REAL MJPEG AVI corpus ([[AviMjpegEncode]]: full RIFF
    * hdrl/strl/movi chain whose `00dc` chunks are real baseline JPEGs
    * under the per-frame block contract seed+f), distributed. */
  def syntheticMjpegAviCorpus(df: DataFrame, idCol: String, seed: Column,
      nFrames: Column, wBlocks: Column, hBlocks: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      AviMjpegEncode(seed.cast("long"), nFrames.cast("long"),
        wBlocks.cast("long"), hBlocks.cast("long")).as("content"))

  /** VIDEO PIXEL content leg: per-frame decoded gray stats + perceptual
    * hashes out of an MJPEG AVI — the container walk slices each `00dc`
    * payload, the T.81 path decodes it, and every frame lands in the
    * SAME hash space as still images ([[AviFrameStats]]). Undecodable
    * containers contribute ZERO rows (never a throw); frames whose
    * payload isn't a decodable image keep their row with f_ok=false.
    * One expression pass + explode fanout, zero shuffle — at 100 TB
    * this is a linear scan emitting 14 small columns per frame. */
  def videoFrameContentStats(media: DataFrame, maxFrames: Int = 512): DataFrame =
    media.withColumn("__s", AviFrameStats(col("content"), maxFrames))
      .select(col("media_id"), explode(col("__s.frames")).as("__f"))
      .select(col("media_id"), col("__f.frame_idx").as("frame_idx"),
        col("__f.n_bytes").as("n_bytes"), col("__f.f_ok").as("f_ok"),
        col("__f.width").as("width"), col("__f.height").as("height"),
        col("__f.n_px").as("n_px"), col("__f.sum_luma").as("sum_luma"),
        col("__f.mean_milli").as("mean_milli"),
        col("__f.var_milli").as("var_milli"),
        col("__f.ahash_hi").as("ahash_hi"), col("__f.ahash_lo").as("ahash_lo"),
        col("__f.dhash_hi").as("dhash_hi"), col("__f.dhash_lo").as("dhash_lo"),
        shiftleft(col("__f.ahash_hi"), 32).bitwiseOR(col("__f.ahash_lo"))
          .as("ahash"),
        shiftleft(col("__f.dhash_hi"), 32).bitwiseOR(col("__f.dhash_lo"))
          .as("dhash"))

  /** EXIF metadata per JPEG row ([[JpegExifMeta]]): (ok, make, model,
    * orientation, datetime) — what an image pipeline keys on BEFORE
    * decode (rotation normalization, device-sliced dedup, capture-time
    * splits). EXIF-less or dirty rows keep their row with ok=false. */
  def exifMeta(media: DataFrame): DataFrame =
    media.withColumn("__e", JpegExifMeta(col("content")))
      .select(col("media_id"), col("__e.ok").as("ok"),
        col("__e.make").as("make"), col("__e.model").as("model"),
        col("__e.orientation").as("orientation"),
        col("__e.datetime").as("datetime"))

  /** Orientation-NORMALIZED image stats ([[JpegOrientedStats]]): read
    * the EXIF orientation, un-rotate the decoded pixels, THEN hash —
    * a camera-rotated copy and its upright original share a
    * fingerprint, which plain pixel hashing cannot give (a 90°
    * rotation scrambles every aHash cell). Same 14-column shape, same
    * hash space as the other stat legs. */
  def orientedImageContentStats(media: DataFrame): DataFrame =
    statsOf(media.withColumn("__s", JpegOrientedStats(col("content"))))

  /** Synthesize a REAL MP3 corpus ([[Mp3Encode]]: ID3v2.3 tag block +
    * MPEG1-L3 frame chain under the documented header contract). */
  def syntheticMp3Corpus(df: DataFrame, idCol: String, seed: Column,
      nFrames: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      Mp3Encode(seed.cast("long"), nFrames.cast("long")).as("content"))

  /** MP3 metadata per row ([[Mp3Meta]]): frame count, total samples
    * (duration = samples/rate), audio byte length, and the ID3 text
    * tags — the audio-corpus triage columns (duration filters, tag
    * dedup) without entropy decode. Undecodable → ok=false rows. */
  def mp3Meta(media: DataFrame, maxFrames: Int = 65536): DataFrame =
    media.withColumn("__m", Mp3Meta(col("content"), maxFrames))
      .select(col("media_id"), col("__m.ok").as("ok"),
        col("__m.n_frames").as("n_frames"),
        col("__m.samples_total").as("samples_total"),
        col("__m.sample_rate").as("sample_rate"),
        col("__m.bytes_audio").as("bytes_audio"),
        col("__m.title").as("title"), col("__m.artist").as("artist"),
        col("__m.album").as("album"))

  /** Synthesize a REAL WARC corpus ([[WarcEncode]]: version + header
    * lines + Content-Length payloads, optionally gzip-membered one
    * member per record — the CommonCrawl layout), distributed. */
  def syntheticWarcCorpus(df: DataFrame, idCol: String, seed: Column,
      nRecords: Column, gzipped: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      WarcEncode(seed.cast("long"), nRecords.cast("long"),
        gzipped.cast("boolean")).as("content"))

  /** WARC INGESTION: per-record rows out of a (possibly gzip-membered)
    * WARC column — type/URI/date/length plus the exact payload-byte
    * signals, and the payload bytes themselves for the triage + decode
    * legs downstream. Undecodable archives contribute ZERO rows; one
    * expression pass + explode fanout, zero shuffle. */
  def warcRecords(media: DataFrame, maxRecords: Int = 4096): DataFrame =
    media.withColumn("__w", WarcRecords(col("content"), maxRecords))
      .select(col("media_id"), explode(col("__w.records")).as("__r"))
      .select(col("media_id"), col("__r.rec_idx").as("rec_idx"),
        col("__r.warc_type").as("warc_type"),
        col("__r.target_uri").as("target_uri"),
        col("__r.warc_date").as("warc_date"),
        col("__r.content_length").as("content_length"),
        col("__r.first_byte").as("first_byte"),
        col("__r.byte_sum").as("byte_sum"),
        col("__r.payload").as("payload"))

  /** HTTP-decoded `response` records of a WARC column: the
    * [[warcRecords]] walk composed with [[HttpResponseDecode]] —
    * status / content type / the DOCUMENT body with chunked framing
    * and gzip content-encoding undone. Non-response records and
    * unparseable HTTP messages contribute ZERO rows (the ok filter);
    * still one scan, zero shuffle.
    *
    * SESSION REQUIREMENT: build the SparkSession with
    * `spark.sql.optimizer.excludedRules = `
    * [[graft.Tables.excludedOptimizerRules]] ([[graft.Session]]
    * does). Without it, `InferFiltersFromGenerate` re-adds a
    * `size(g) > 0` filter below the ok-drop Generates here and in
    * [[warcHttpTexts]], re-evaluating the full HTTP/charset decode per
    * row. Results are identical either way — only decode CPU doubles. */
  def warcHttpResponses(media: DataFrame, maxRecords: Int = 4096): DataFrame =
    warcRecords(media, maxRecords)
      .filter(col("warc_type") === "response")
      // Drop non-ok rows via explode of a 0/1-element array, NOT a
      // Filter on the aliased struct: filter pushdown substitutes the
      // alias into the pushed predicate, so `.filter(col("__h.ok"))`
      // re-evaluated the HTTP decode per ok probe AND per extracted
      // field — 4 decodes per row in x_web_extract's optimized plan. A
      // Generate is not a predicate (nothing pushes through it), the
      // kernel is referenced once, and `__h` below is a materialized
      // generate output whose field reads are free. Same row set.
      .withColumn("__h0", HttpResponseDecode(col("payload")))
      .select(col("media_id"), col("rec_idx"), col("target_uri"),
        explode(filter(array(col("__h0")), h => h.getField("ok"))).as("__h"))
      .select(col("media_id"), col("rec_idx"), col("target_uri"),
        col("__h.status").as("status"),
        col("__h.content_type").as("content_type"),
        col("__h.n_bytes").as("n_bytes"),
        col("__h.first_byte").as("first_byte"),
        col("__h.byte_sum").as("byte_sum"),
        col("__h.body").as("body"))

  /** The charset-resolved TEXT leg on top of [[warcHttpResponses]]
    * (round 14, the bytes→text bridge): per verified response, resolve
    * the page encoding (BOM > Content-Type charset param > meta
    * prescan > windows-1252) and STRICT-decode the body — pages with
    * unknown labels or bytes malformed under the resolved charset drop
    * (ok=false upstream), never mojibake. Output keeps the exact
    * oracle statistics (n_chars, cp_sum) beside the text itself, so
    * the downstream verbs (htmlStrip, language-ID, dedup) consume
    * `text` while the conformance gate replays the numbers. */
  def warcHttpTexts(media: DataFrame, maxRecords: Int = 4096): DataFrame =
    warcHttpResponses(media, maxRecords)
      // same explode-not-filter discipline as [[warcHttpResponses]]:
      // the charset decode runs once per row, not once per ok probe
      // plus once per extracted field
      .withColumn("__t0", CharsetTextDecode(col("content_type"), col("body")))
      .select(col("media_id"), col("rec_idx"), col("target_uri"),
        col("status"), col("content_type"),
        explode(filter(array(col("__t0")), t => t.getField("ok"))).as("__t"))
      .select(col("media_id"), col("rec_idx"), col("target_uri"),
        col("status"), col("content_type"),
        col("__t.charset").as("charset"),
        col("__t.text").as("text"),
        col("__t.n_chars").as("n_chars"),
        col("__t.cp_sum").as("cp_sum"))

  /** WARC-of-charset-pages fixture corpus ([[WarcCharsetEncode]]'s
    * documented 4-mode contract: header-declared ISO-8859-1, meta-
    * declared Shift_JIS, BOM'd UTF-8, undeclared windows-1252). */
  def syntheticWarcCharsetCorpus(df: DataFrame, idCol: String, seed: Column,
      nRecords: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      WarcCharsetEncode(seed.cast("long"), nRecords.cast("long"))
        .as("content"))

  /** [[audioContentStats]] for FLAC content (round 14): the Rice/
    * predictor decode via [[FlacPcmStats]] — same 9-field shape, same
    * energy-contour fingerprint space as WAV/G.711. */
  def flacContentStats(media: DataFrame): DataFrame =
    media.withColumn("__s", FlacPcmStats(col("content")))
      .select(col("media_id"), col("__s.ok").as("ok"),
        col("__s.channels").as("channels"),
        col("__s.sample_rate").as("sample_rate"),
        col("__s.n_samples").as("n_samples"),
        col("__s.sum_abs").as("sum_abs"),
        col("__s.peak_abs").as("peak_abs"),
        col("__s.zero_cross").as("zero_cross"),
        col("__s.fp_hi").as("fp_hi"), col("__s.fp_lo").as("fp_lo"),
        shiftleft(col("__s.fp_hi"), 32).bitwiseOR(col("__s.fp_lo")).as("fp"))

  /** Real-FLAC fixture corpus ([[FlacEncode]]: the PcmWavEncode sample
    * ramp under cycling VERBATIM/FIXED/LPC-escape frames), so the WAV
    * oracle chain replays the FLAC decode verbatim. */
  def syntheticFlacCorpus(df: DataFrame, idCol: String, seed: Column,
      nSamples: Column, sampleRate: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      FlacEncode(seed.cast("long"), nSamples.cast("long"),
        sampleRate.cast("long")).as("content"))

  /** PDF text layer of a binary column (round 14): FlateDecode undone,
    * show-operator strings concatenated under WinAnsi; streams with
    * unverifiable filters are counted as skipped, never guessed at.
    * Zero-shuffle per-row walk — the triage census already routes pdf
    * bytes here. */
  def pdfText(media: DataFrame): DataFrame =
    media
      .withColumn("__p", PdfTextExtract(col("content")))
      .select(col("media_id"), col("__p.ok").as("ok"),
        col("__p.n_pages").as("n_pages"),
        col("__p.n_streams").as("n_streams"),
        col("__p.n_text_streams").as("n_text_streams"),
        col("__p.n_skipped_streams").as("n_skipped_streams"),
        col("__p.n_chars").as("n_chars"),
        col("__p.cp_sum").as("cp_sum"),
        col("__p.text").as("text"))

  /** Real-PDF fixture corpus ([[PdfKernel.encode]]'s documented
    * per-page contract: content-stream filters cycling p mod 4 =
    * Flate / raw / LZW / ASCII85-of-Flate). */
  def syntheticPdfCorpus(df: DataFrame, idCol: String, seed: Column,
      nPages: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      PdfEncode(seed.cast("long"), nPages.cast("long")).as("content"))

  /** Type0/Identity-H fixture corpus ([[PdfKernel.encodeCid]]'s
    * documented per-page contract: 2-byte CIDs through a Flate'd
    * ToUnicode CMap — the modern Word/LaTeX/browser shape). */
  def syntheticPdfCidCorpus(df: DataFrame, idCol: String, seed: Column,
      nPages: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      PdfCidEncode(seed.cast("long"), nPages.cast("long")).as("content"))

  /** AVIF/HEIC metadata census over a binary corpus: brand, item
    * count and `ispe` dims from the ISO-BMFF meta spine, zero codec
    * decode (see [[BmffMetaKernel]]). Zero-shuffle scan projection. */
  def bmffImageMeta(media: DataFrame): DataFrame =
    media
      .withColumn("__m", BmffImageMeta(col("content")))
      .select(col("media_id"), col("__m.ok").as("ok"),
        col("__m.brand").as("brand"),
        col("__m.n_items").as("n_items"),
        col("__m.n_ispe").as("n_ispe"),
        col("__m.width").as("width"),
        col("__m.height").as("height"))

  /** WebM/Matroska structural census over a binary corpus: doctype,
    * duration, track spine (see [[MkvKernel]]). Zero-shuffle. */
  def mkvMeta(media: DataFrame): DataFrame =
    media
      .withColumn("__m", MkvMeta(col("content")))
      .select(col("media_id"), col("__m.ok").as("ok"),
        col("__m.doctype").as("doctype"),
        col("__m.doctype_version").as("doctype_version"),
        col("__m.timestamp_scale").as("timestamp_scale"),
        col("__m.duration_units").as("duration_units"),
        col("__m.n_tracks").as("n_tracks"),
        col("__m.video_codec").as("video_codec"),
        col("__m.pixel_width").as("pixel_width"),
        col("__m.pixel_height").as("pixel_height"),
        col("__m.audio_codec").as("audio_codec"),
        col("__m.sample_rate").as("sample_rate"),
        col("__m.channels").as("channels"),
        col("__m.n_clusters").as("n_clusters"),
        col("__m.n_blocks").as("n_blocks"),
        col("__m.frame_bytes").as("frame_bytes"),
        col("__m.n_sub_blocks").as("n_sub_blocks"),
        col("__m.subtitle_text").as("subtitle_text"))

  /** MP4 movie-metadata census over a binary corpus: mvhd timing, the
    * track spine (handler/codec/dims/rate) and tx3g timed text (see
    * [[Mp4MetaKernel]]). Zero-shuffle scan projection. */
  def mp4MovieMeta(media: DataFrame): DataFrame =
    media
      .withColumn("__m", Mp4MovieMeta(col("content")))
      .select(col("media_id"), col("__m.ok").as("ok"),
        col("__m.timescale").as("timescale"),
        col("__m.duration_units").as("duration_units"),
        col("__m.n_tracks").as("n_tracks"),
        col("__m.video_codec").as("video_codec"),
        col("__m.width").as("width"),
        col("__m.height").as("height"),
        col("__m.audio_codec").as("audio_codec"),
        col("__m.sample_rate").as("sample_rate"),
        col("__m.channels").as("channels"),
        col("__m.n_text_samples").as("n_text_samples"),
        col("__m.text").as("text"))

  /** Ogg page-walk census over a binary corpus: CRC-verified page
    * structure + ident-header probe (see [[OggKernel]]).
    * Zero-shuffle. */
  def oggMeta(media: DataFrame): DataFrame =
    media
      .withColumn("__m", OggMeta(col("content")))
      .select(col("media_id"), col("__m.ok").as("ok"),
        col("__m.n_pages").as("n_pages"),
        col("__m.n_packets").as("n_packets"),
        col("__m.n_streams").as("n_streams"),
        col("__m.codec").as("codec"),
        col("__m.channels").as("channels"),
        col("__m.sample_rate").as("sample_rate"),
        col("__m.last_granule").as("last_granule"),
        col("__m.serial").as("serial"),
        col("__m.vendor").as("vendor"),
        col("__m.artist").as("artist"),
        col("__m.title").as("title"),
        col("__m.n_comments").as("n_comments"))

  /** WARC-of-HTTP fixture corpus ([[WarcHttpEncode]]'s documented
    * contract: identity / chunked / gzip wire forms cycling per
    * record). */
  def syntheticWarcHttpCorpus(df: DataFrame, idCol: String, seed: Column,
      nRecords: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      WarcHttpEncode(seed.cast("long"), nRecords.cast("long")).as("content"))

  /** Synthesize a REAL ustar corpus ([[TarEncode]]: verified-checksum
    * headers, block padding, zero-block terminator), distributed. */
  def syntheticTarCorpus(df: DataFrame, idCol: String, seed: Column,
      nMembers: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      TarEncode(seed.cast("long"), nMembers.cast("long")).as("content"))

  /** WebDataset-SHARD ingestion: per-member rows out of a tar (or
    * .tar.gz) column — name/size + exact payload-byte signals + the
    * payload bytes for the triage/decode legs. Undecodable archives
    * contribute ZERO rows; one expression pass + explode fanout. */
  def tarMembers(media: DataFrame, maxMembers: Int = 4096): DataFrame =
    media.withColumn("__t", TarMembers(col("content"), maxMembers))
      .select(col("media_id"), explode(col("__t.members")).as("__m"))
      .select(col("media_id"), col("__m.member_idx").as("member_idx"),
        col("__m.name").as("name"), col("__m.size").as("size"),
        col("__m.first_byte").as("first_byte"),
        col("__m.byte_sum").as("byte_sum"),
        col("__m.payload").as("payload"))

  /** Synthesize a REAL zip corpus ([[ZipEncode]]: JDK-written central
    * directory, stored or deflated members), distributed. */
  def syntheticZipCorpus(df: DataFrame, idCol: String, seed: Column,
      nMembers: Column, deflated: Column): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      ZipEncode(seed.cast("long"), nMembers.cast("long"),
        deflated.cast("boolean")).as("content"))

  /** ZIP-bundle ingestion: per-member rows via the central-directory
    * walk (CRC-verified inflate for deflated members) — name/size/
    * method + exact payload signals + the payload bytes for the
    * triage/decode legs. Undecodable or CRC-failing archives
    * contribute ZERO rows; one expression pass + explode fanout. */
  def zipMembers(media: DataFrame, maxMembers: Int = 4096): DataFrame =
    media.withColumn("__z", ZipMembers(col("content"), maxMembers))
      .select(col("media_id"), explode(col("__z.members")).as("__m"))
      .select(col("media_id"), col("__m.member_idx").as("member_idx"),
        col("__m.name").as("name"), col("__m.size").as("size"),
        col("__m.method").as("method"),
        col("__m.first_byte").as("first_byte"),
        col("__m.byte_sum").as("byte_sum"),
        col("__m.payload").as("payload"))

  /** PNG textual metadata per row ([[PngTextMeta]]): (key, value)
    * entries from CRC-verified tEXt/zTXt/iTXt chunks — the PNG twin of
    * [[exifMeta]] (author/source/caption curation columns). Dirty
    * containers contribute ZERO rows. */
  def pngTextEntries(media: DataFrame): DataFrame =
    media.withColumn("__p", PngTextMeta(col("content")))
      .select(col("media_id"), explode(col("__p.entries")).as("__e"))
      .select(col("media_id"), col("__e.key").as("key"),
        col("__e.value").as("value"))

  /** Media TRIAGE — the crawl pipeline's first pass over an opaque
    * content column: tag every row's container kind by magic bytes
    * ([[MediaKind]]), ONE cheap scan, no decode. At 100 TB the output
    * is what downstream decode stages partition-prune on (each leg
    * reads only its kind instead of re-sniffing the corpus), and the
    * per-kind census is the number an ingest team budgets with. */
  def mediaTriage(media: DataFrame): DataFrame =
    media.select(col("media_id"), MediaKind(col("content")).as("kind"),
      length(col("content")).cast("long").as("n_bytes"))

  /** Per-kind census over [[mediaTriage]]: (kind, n, total_bytes). */
  def mediaTriageSummary(media: DataFrame): DataFrame =
    mediaTriage(media).groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"))

  /** Exact binary dedup over an opaque content column — the media twin
    * of the text exact-dedup family: group by sha2-256 of the bytes,
    * keep the minimum id per group. The 100 TB shape: the shuffle moves
    * (32-byte digest, id) pairs, NEVER the binary payloads; payload
    * bytes are read once in the scan projection that computes the
    * digest. Output: (content_sha, n_copies, keep_id). */
  def binaryExactDedup(media: DataFrame, idCol: String = "media_id",
      contentCol: String = "content"): DataFrame =
    media.select(sha2(col(contentCol), 256).as("content_sha"),
        col(idCol).cast("long").as("__id"))
      .groupBy(col("content_sha"))
      .agg(count(lit(1)).as("n_copies"), min(col("__id")).as("keep_id"))
}
