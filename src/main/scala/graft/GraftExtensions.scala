package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.ext.{LanguageId, LuhnMask, MinHashSignature, PaddedNgrams,
  RepetitionStats, Shingles, SignLshSignatures, SimHash64, TextAnalysis,
  TextNormalize, WinnowFingerprints, WordEntropyStats}

/** Session extensions exposing the engine's native expressions to SQL:
  *
  *   spark.sql("SELECT simhash64(split(text, ' ')) FROM docs")
  *   spark.sql("SELECT minhash_signature(shingles, 128, 42) ...")
  *   spark.sql("SELECT sign_lsh_signatures(embedding, 8, 12, 64, 42) ...")
  *
  * Register with:
  *   graft.Session.builder(...).withExtensions(new GraftExtensions) ...
  * or spark.sql.extensions=graft.GraftExtensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private def longArg(e: Expression, name: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => SimHash64(c)
        case _ => throw new IllegalArgumentException("simhash64(arr)")
      }))

    ext.injectFunction((
      FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => MinHashSignature(c, 128, 42L)
        case Seq(c, k) => MinHashSignature(c, intArg(k, "numHashes"), 42L)
        case Seq(c, k, s) =>
          MinHashSignature(c, intArg(k, "numHashes"), longArg(s, "seed"))
        case _ => throw new IllegalArgumentException(
          "minhash_signature(arr[, numHashes[, seed]])")
      }))

    ext.injectFunction((
      FunctionIdentifier("shingles"),
      new ExpressionInfo(classOf[Shingles].getName, "shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => Shingles(c, 3)
        case Seq(c, n) => Shingles(c, intArg(n, "n"))
        case _ => throw new IllegalArgumentException("shingles(text[, n])")
      }))

    ext.injectFunction((
      FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fingerprints"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => WinnowFingerprints(c, 3, 4)
        case Seq(c, k, w) =>
          WinnowFingerprints(c, intArg(k, "k"), intArg(w, "w"))
        case _ => throw new IllegalArgumentException(
          "winnow_fingerprints(text[, k, w])")
      }))

    ext.injectFunction((
      FunctionIdentifier("language_id"),
      new ExpressionInfo(classOf[LanguageId].getName, "language_id"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => LanguageId(c, TextAnalysis.langProfiles)
        case _ => throw new IllegalArgumentException("language_id(text)")
      }))

    ext.injectFunction((
      FunctionIdentifier("text_normalize"),
      new ExpressionInfo(classOf[TextNormalize].getName, "text_normalize"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => TextNormalize(c)
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(
            compat: Boolean, _)) => TextNormalize(c, compat)
        case _ => throw new IllegalArgumentException(
          "text_normalize(text[, compat])")
      }))

    ext.injectFunction((
      FunctionIdentifier("repetition_stats"),
      new ExpressionInfo(classOf[RepetitionStats].getName, "repetition_stats"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => RepetitionStats(c, Seq(2, 3, 4), Seq(5, 6, 7, 8, 9, 10),
          "\n")
        case _ => throw new IllegalArgumentException("repetition_stats(text)")
      }))

    ext.injectFunction((
      FunctionIdentifier("padded_ngrams"),
      new ExpressionInfo(classOf[PaddedNgrams].getName, "padded_ngrams"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => PaddedNgrams(c, 3, 2)
        case Seq(c, n) =>
          val k = intArg(n, "n"); PaddedNgrams(c, k, k - 1)
        case Seq(c, n, p) =>
          PaddedNgrams(c, intArg(n, "n"), intArg(p, "pads"))
        case _ => throw new IllegalArgumentException(
          "padded_ngrams(text[, n[, pads]])")
      }))

    ext.injectFunction((
      FunctionIdentifier("word_entropy"),
      new ExpressionInfo(classOf[WordEntropyStats].getName, "word_entropy"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => WordEntropyStats(c)
        case _ => throw new IllegalArgumentException("word_entropy(text)")
      }))

    ext.injectFunction((
      FunctionIdentifier("png_gray_stats"),
      new ExpressionInfo(classOf[graft.ext.PngGrayStats].getName,
        "png_gray_stats"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.ext.PngGrayStats(c)
        case _ => throw new IllegalArgumentException("png_gray_stats(binary)")
      }))

    ext.injectFunction((
      FunctionIdentifier("wav_pcm_stats"),
      new ExpressionInfo(classOf[graft.ext.WavPcmStats].getName,
        "wav_pcm_stats"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.ext.WavPcmStats(c)
        case _ => throw new IllegalArgumentException("wav_pcm_stats(binary)")
      }))

    ext.injectFunction((
      FunctionIdentifier("mp4_sample_table"),
      new ExpressionInfo(classOf[graft.ext.Mp4SampleTable].getName,
        "mp4_sample_table"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.ext.Mp4SampleTable(c, 4096)
        case Seq(c, m) => graft.ext.Mp4SampleTable(c, intArg(m, "maxSamples"))
        case _ => throw new IllegalArgumentException(
          "mp4_sample_table(binary[, maxSamples])")
      }))

    ext.injectFunction((
      FunctionIdentifier("avi_frame_stats"),
      new ExpressionInfo(classOf[graft.ext.AviFrameStats].getName,
        "avi_frame_stats"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.ext.AviFrameStats(c, 512)
        case Seq(c, m) => graft.ext.AviFrameStats(c, intArg(m, "maxFrames"))
        case _ => throw new IllegalArgumentException(
          "avi_frame_stats(binary[, maxFrames])")
      }))

    ext.injectFunction((
      FunctionIdentifier("avi_mjpeg_encode"),
      new ExpressionInfo(classOf[graft.ext.AviMjpegEncode].getName,
        "avi_mjpeg_encode"),
      (args: Seq[Expression]) => args match {
        case Seq(s, n, w, h) => graft.ext.AviMjpegEncode(s, n, w, h)
        case _ => throw new IllegalArgumentException(
          "avi_mjpeg_encode(seed, nFrames, wBlocks, hBlocks)")
      }))

    ext.injectFunction((
      FunctionIdentifier("media_kind"),
      new ExpressionInfo(classOf[graft.ext.MediaKind].getName, "media_kind"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.ext.MediaKind(c)
        case _ => throw new IllegalArgumentException("media_kind(binary)")
      }))

    ext.injectFunction((
      FunctionIdentifier("jpeg_exif_meta"),
      new ExpressionInfo(classOf[graft.ext.JpegExifMeta].getName,
        "jpeg_exif_meta"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.ext.JpegExifMeta(c)
        case _ => throw new IllegalArgumentException("jpeg_exif_meta(binary)")
      }))

    ext.injectFunction((
      FunctionIdentifier("mp3_meta"),
      new ExpressionInfo(classOf[graft.ext.Mp3Meta].getName, "mp3_meta"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.ext.Mp3Meta(c, 65536)
        case Seq(c, m) => graft.ext.Mp3Meta(c, intArg(m, "maxFrames"))
        case _ => throw new IllegalArgumentException(
          "mp3_meta(binary[, maxFrames])")
      }))

    ext.injectFunction((
      FunctionIdentifier("warc_records"),
      new ExpressionInfo(classOf[graft.ext.WarcRecords].getName,
        "warc_records"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.ext.WarcRecords(c, 4096)
        case Seq(c, m) => graft.ext.WarcRecords(c, intArg(m, "maxRecords"))
        case _ => throw new IllegalArgumentException(
          "warc_records(binary[, maxRecords])")
      }))

    ext.injectFunction((
      FunctionIdentifier("http_response_decode"),
      new ExpressionInfo(classOf[graft.ext.HttpResponseDecode].getName,
        "http_response_decode"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.ext.HttpResponseDecode(c)
        case _ => throw new IllegalArgumentException(
          "http_response_decode(binary)")
      }))

    ext.injectFunction((
      FunctionIdentifier("tar_members"),
      new ExpressionInfo(classOf[graft.ext.TarMembers].getName,
        "tar_members"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.ext.TarMembers(c, 4096)
        case Seq(c, m) => graft.ext.TarMembers(c, intArg(m, "maxMembers"))
        case _ => throw new IllegalArgumentException(
          "tar_members(binary[, maxMembers])")
      }))

    ext.injectFunction((
      FunctionIdentifier("zip_members"),
      new ExpressionInfo(classOf[graft.ext.ZipMembers].getName,
        "zip_members"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.ext.ZipMembers(c, 4096)
        case Seq(c, m) => graft.ext.ZipMembers(c, intArg(m, "maxMembers"))
        case _ => throw new IllegalArgumentException(
          "zip_members(binary[, maxMembers])")
      }))

    ext.injectFunction((
      FunctionIdentifier("gray_png_encode"),
      new ExpressionInfo(classOf[graft.ext.GrayPngEncode].getName,
        "gray_png_encode"),
      (args: Seq[Expression]) => args match {
        case Seq(s, w, h, rs, cs, b) => graft.ext.GrayPngEncode(s, w, h, rs, cs, b)
        case _ => throw new IllegalArgumentException(
          "gray_png_encode(seed, w, h, rowStep, colStep, bump)")
      }))

    ext.injectFunction((
      FunctionIdentifier("mp4_samples_encode"),
      new ExpressionInfo(classOf[graft.ext.Mp4SamplesEncode].getName,
        "mp4_samples_encode"),
      (args: Seq[Expression]) => args match {
        case Seq(s, n) => graft.ext.Mp4SamplesEncode(s, n)
        case _ => throw new IllegalArgumentException(
          "mp4_samples_encode(seed, nSamples)")
      }))

    ext.injectFunction((
      FunctionIdentifier("luhn_mask"),
      new ExpressionInfo(classOf[LuhnMask].getName, "luhn_mask"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => LuhnMask(c, "<CARD>", separators = true)
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(
          t: org.apache.spark.unsafe.types.UTF8String, _)) =>
          LuhnMask(c, t.toString, separators = true)
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(
          t: org.apache.spark.unsafe.types.UTF8String, _),
          org.apache.spark.sql.catalyst.expressions.Literal(sep: Boolean, _)) =>
          LuhnMask(c, t.toString, separators = sep)
        case _ => throw new IllegalArgumentException(
          "luhn_mask(text[, token_literal[, separators_literal]])")
      }))

    ext.injectFunction((
      FunctionIdentifier("sign_lsh_signatures"),
      new ExpressionInfo(classOf[SignLshSignatures].getName, "sign_lsh_signatures"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => SignLshSignatures(c, 8, 12, 64, 42L)
        case Seq(c, t, b, d) => SignLshSignatures(c, intArg(t, "tables"),
          intArg(b, "bits"), intArg(d, "dim"), 42L)
        case Seq(c, t, b, d, s) => SignLshSignatures(c, intArg(t, "tables"),
          intArg(b, "bits"), intArg(d, "dim"), longArg(s, "seed"))
        case _ => throw new IllegalArgumentException(
          "sign_lsh_signatures(arr[, tables, bits, dim[, seed]])")
      }))
  }
}
