package graft.tools

import graft.{Session, SparkEntry, Verify}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool: run named gates on `SPARK_GRAFT_SF_DIR` and print each run's
  * wall time and every Spark job it started. After one untimed `q03`
  * warm-up, each gate runs twice through the noop sink (compare the second
  * runs in same-JVM A/B work); `--plan` first prints the gate's formatted
  * physical plan. For one gate's parquet dump and oracle SQL use
  * `graft.Verify <sfDir> <outDir> <name,...>`.
  *
  * `SPARK_GRAFT_SF_DIR=<sfDir> runMain graft.tools.Gate [--plan] name...` */
object Gate {
  def main(args: Array[String]): Unit = {
    val plan = args.contains("--plan")
    val names = args.filterNot(_ == "--plan").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "")
    val bad =
      if (sfDir.isEmpty) Some("SPARK_GRAFT_SF_DIR must name a test-data directory")
      else if (names.isEmpty) Some("no gate named")
      else Verify.unknownGates(names, SparkEntry.gates.keySet)
    bad.foreach { msg =>
      System.err.println(s"$msg\nusage: SPARK_GRAFT_SF_DIR=<sfDir> Gate [--plan] name...")
      sys.exit(2)
    }
    val spark = Session.local("graft-gate")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (System.nanoTime(),
          Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))
              .orElse(Option(p.getProperty("callSite.short"))))
            .getOrElse(js.stageInfos.lastOption.map(_.name).getOrElse("?"))
            .linesIterator.next()))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.get(je.jobId)
        if (s != null) lines.add(
          f"JOB ${je.jobId}%4d ${(System.nanoTime() - s._1) / 1e9}%7.3f  ${s._2}")
      }
    })
    SparkEntry.gates("q03").force(spark, sfDir)
    for (q <- names) {
      if (plan) {
        println(s"========== $q plan ==========")
        try SparkEntry.gates(q).run(spark, sfDir).explain("formatted")
        finally spark.catalog.clearCache()
      }
      for (i <- 1 to 2) {
        lines.clear()
        val t0 = System.nanoTime()
        SparkEntry.gates(q).force(spark, sfDir)
        val t = (System.nanoTime() - t0) / 1e9
        // give listener events a moment to drain
        Thread.sleep(300)
        println(f"===== $q#$i total $t%.2f jobs=${lines.size()}")
        lines.forEach(l => println(l))
      }
    }
    spark.stop()
  }
}
