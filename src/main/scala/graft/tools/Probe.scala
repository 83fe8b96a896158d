package graft.tools

import graft.{Session, Tables}
import graft.ext.Dedup

import org.apache.spark.sql.functions._

/** Dev measurement probe (not part of the driver contract): recall of the
  * banded dedup paths against exhaustive-index exact Jaccard, per scale
  * factor — the empirical input behind the banding parameters in
  * Dedup.simhashPairs (oracle pairs reach Hamming 14/64 at sf0.001: short
  * docs inflate bit-vote noise, hence the minhash assist tier). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("graft-probe")

    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val docs = Tables.load(spark, dir, "documents")
      def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select(col("i").cast("long"), col("j").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact90 = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.9, maxDf = None))
      val sim = pairSet(Dedup.simhashPairs(docs, "doc_id", "text",
        n = 3, maxHamming = 24, threshold = 0.9))
      val exact50 = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxDf = None))
      val capped50 = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5))
      println(s"=== $sf simhash: got=${sim.size} want=${exact90.size} " +
        s"missing=${exact90 -- sim} extra=${sim -- exact90}")
      println(s"=== $sf ngram-cap: got=${capped50.size} want=${exact50.size} " +
        s"missing=${exact50 -- capped50}")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
