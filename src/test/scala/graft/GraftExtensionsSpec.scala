package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL exposure of the native expressions via SparkSessionExtensions. */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // getOrCreate would return the shared test session (without these
    // extensions); force a fresh session for this suite
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // same master/parallelism as SparkTestBase: if this suite initializes
    // the JVM-wide SparkContext first, later suites inherit it unchanged
    val s = Session.local(
      Session.builder("graft-ext-test").withExtensions(new GraftExtensions), 4)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    s
  }

  test("simhash64 / minhash_signature / sign_lsh_signatures from SQL") {
    val r = spark.sql(
      """SELECT simhash64(array('a','b','c')) AS sh,
        |       minhash_signature(array('a','b','c'), 8, 42) AS mh,
        |       sign_lsh_signatures(array(1.0F, -2.0F), 2, 4, 2, 42) AS ls
        |""".stripMargin).collect()(0)
    assert(r.getLong(0) != 0L)
    assert(r.getSeq[Long](1).size == 8)
    assert(r.getSeq[Long](2).size == 2)
    // deterministic across invocations
    val r2 = spark.sql("SELECT simhash64(array('a','b','c'))").collect()(0)
    assert(r.getLong(0) == r2.getLong(0))
    // and consistent with the Column API
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val viaCol = Seq(Seq("a", "b", "c")).toDF("arr")
      .select(graft.ext.SimHash64(col("arr"))).as[Long].collect()(0)
    assert(viaCol == r.getLong(0))
  }

  test("shingles / winnow_fingerprints / language_id from SQL") {
    val r = spark.sql(
      """SELECT shingles('one two three four', 3) AS sh,
        |       winnow_fingerprints('one two three four five six', 3, 2) AS wf,
        |       language_id('the cat is in the house') AS lang
        |""".stripMargin).collect()(0)
    assert(r.getSeq[String](0) == Seq("one two three", "two three four"))
    assert(r.getSeq[Long](1).nonEmpty)
    assert(r.getString(2) == "en")
  }

  test("text_normalize from SQL") {
    val r = spark.sql(
      "SELECT text_normalize('  The\\tQuick  CaFé ') AS n").collect()(0)
    assert(r.getString(0) == "the quick café")
  }

  test("text_normalize compat mode from SQL folds NFKC forms") {
    val r = spark.sql(
      "SELECT text_normalize('\uFF28\uFF25\uFF2C\uFF2C\uFF2F x\u00B2', true) AS n")
      .collect()(0)
    assert(r.getString(0) == "hello x2")
    // default stays canonical: fullwidth survives NFC untouched
    val c = spark.sql(
      "SELECT text_normalize('\uFF28\uFF29', false) AS n").collect()(0)
    assert(c.getString(0) == "\uFF48\uFF49") // lowered fullwidth, not folded
  }

  test("bad argument types rejected") {
    intercept[Exception](spark.sql("SELECT simhash64(1)").collect())
  }

  test("luhn_mask from SQL, default and custom token") {
    val r = spark.sql(
      """SELECT luhn_mask('pay 4111111111111111 ref 4111111111111112') AS a,
        |       luhn_mask('pay 4111111111111111', '[PAN]') AS b
        |""".stripMargin).collect()(0)
    assert(r.getString(0) == "pay <CARD> ref 4111111111111112")
    assert(r.getString(1) == "pay [PAN]")
  }

  test("word_entropy from SQL") {
    val s = spark.sql(
      "SELECT word_entropy('a b a b').entropy_nano AS en").collect()(0)
    assert(s.getLong(0) ==
      2 * math.floor(0.5 * math.log(2.0) * 1e9).toLong)
  }

  test("repetition_stats / padded_ngrams from SQL") {
    val r = spark.sql(
      """SELECT repetition_stats('a b a b a b').top_2gram_char_frac AS t2,
        |       padded_ngrams('x y', 3) AS pg,
        |       padded_ngrams('x y', 2, 1) AS bg
        |""".stripMargin).collect()(0)
    // "a b" x3 of len 3 over 11 chars, rounded to 6 dp
    assert(math.abs(r.getDouble(0) - 0.818182) < 1e-9)
    val pg = r.getSeq[org.apache.spark.sql.Row](1)
    assert(pg.map(x => (x.getString(0), x.getString(1), x.getString(2))) ==
      Seq(("<s>", "<s>", "x"), ("<s>", "x", "y")))
    assert(r.getSeq[org.apache.spark.sql.Row](2).size == 2)
  }

  test("media content functions from SQL: png/wav/mp4") {
    // a real 9x8 PNG built by the fixture expression, decoded in SQL
    val r = spark.sql(
      """SELECT png_gray_stats(content).ok AS ok,
        |       png_gray_stats(content).n_px AS n,
        |       wav_pcm_stats(content) IS NOT NULL AS w
        |FROM (SELECT gray_png_encode(3L, 9L, 8L, 11L, 5L, 2L) AS content)
        |""".stripMargin).collect()(0)
    assert(r.getBoolean(0) && r.getLong(1) == 72L)
    val v = spark.sql(
      """SELECT size(mp4_sample_table(mp4_samples_encode(5L, 4L)).samples) AS n,
        |       mp4_sample_table(CAST('junk' AS BINARY)).ok AS bad
        |""".stripMargin).collect()(0)
    assert(v.getInt(0) == 4 && !v.getBoolean(1))
  }

  test("video frame decode from SQL: avi_mjpeg_encode -> avi_frame_stats") {
    val r = spark.sql(
      """SELECT size(avi_frame_stats(avi_mjpeg_encode(7L, 3L, 2L, 2L)).frames) AS n,
        |       avi_frame_stats(avi_mjpeg_encode(7L, 3L, 2L, 2L)).frames[0].f_ok AS f0,
        |       avi_frame_stats(avi_mjpeg_encode(7L, 3L, 2L, 2L)).frames[0].n_px AS px,
        |       avi_frame_stats(CAST('junk' AS BINARY)).ok AS bad
        |""".stripMargin).collect()(0)
    assert(r.getInt(0) == 3 && r.getBoolean(1) && r.getLong(2) == 256L &&
      !r.getBoolean(3))
  }

  test("archive + metadata functions from SQL: media_kind, exif, mp3, " +
      "warc/tar/zip walks") {
    val r = spark.sql(
      """SELECT media_kind(avi_mjpeg_encode(1L, 1L, 1L, 1L)) AS k,
        |       jpeg_exif_meta(CAST('junk' AS BINARY)).ok AS e,
        |       mp3_meta(CAST('junk' AS BINARY)).ok AS m,
        |       warc_records(CAST('junk' AS BINARY)).ok AS w,
        |       tar_members(CAST('junk' AS BINARY)).ok AS t,
        |       zip_members(CAST('junk' AS BINARY)).ok AS z,
        |       http_response_decode(CAST('junk' AS BINARY)).ok AS h,
        |       http_response_decode(CAST(
        |         concat('HTTP/1.1 200 OK\r\nContent-Length: 4\r\n\r\nbody')
        |         AS BINARY)).n_bytes AS hb
        |""".stripMargin).collect()(0)
    assert(r.getString(0) == "avi" && !r.getBoolean(1) && !r.getBoolean(2) &&
      !r.getBoolean(3) && !r.getBoolean(4) && !r.getBoolean(5))
    assert(!r.getBoolean(6) && r.getLong(7) == 4L)
  }
}
