package graft.tools

import graft.Session

import org.apache.spark.sql.functions._

/** Scaling evidence for the dedup + text-analysis paths (BASELINE.md):
  * replicate the documents corpus K times with distinct ids (near-dup
  * structure is preserved and multiplied), run each operator end-to-end,
  * report wall time and output counts. At K=10 over sf0.1 that is 50k
  * docs — 1.25 billion candidate pairs for the O(n^2) formulation,
  * impossible for the oracle, linear work here.
  *
  * Round-6 additions: tfidfTopK (WindowGroupLimit must keep the rank
  * stage pair-bounded at 10x the corpus) and Profile.columns in both
  * exact-countDistinct and approxDistinct (HLL++) form — the measured
  * crossover between the exact expand and the sketch is the number
  * BASELINE.md cites for the 100 TB recommendation.
  *
  * `runMain graft.tools.ScaleDemo [K]`
  */
object ScaleDemo {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val spark = Session.local("graft-scale-demo")

    val base = graft.Tables.load(spark, "/root/testdata/sf0.1", "documents")
    val n0 = base.count()
    val corpus = (0 until k).map { i =>
      base.select((col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
        col("text"))
    }.reduce(_ unionByName _)

    // SPARK_GRAFT_SCALE_ONLY=op1,op2 runs a subset (dev loop / K sweeps)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))

    val docs = n0 * k
    def timed(name: String)(body: => Long): Unit = if (selected(name)) {
      val t0 = System.nanoTime()
      val pairs = body
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"op": "$name", "docs": $docs, "replication": $k, "pairs": $pairs, "seconds": $secs%.1f}""")
      spark.catalog.clearCache()
    }
    timed("minhash") {
      graft.ext.Dedup.minhashPairs(corpus, "doc_id", "text",
        n = 3, numHashes = 128, bands = 32, threshold = 0.8).count()
    }
    timed("simhash") {
      graft.ext.Dedup.simhashPairs(corpus, "doc_id", "text",
        n = 3, maxHamming = 24, threshold = 0.9).count()
    }
    timed("ngram") {
      graft.ext.Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.8).count()
    }
    timed("tfidf_topk") {
      graft.ext.TextAnalysis.tfidfTopK(corpus, "doc_id", "text", k = 3).count()
    }
    timed("profile_exact") {
      graft.ext.Profile.columns(corpus, Seq("doc_id", "text")).count()
    }
    timed("profile_approx") {
      graft.ext.Profile.columns(corpus, Seq("doc_id", "text"),
        approxDistinct = true).count()
    }
    timed("boilerplate_lines") {
      // replication multiplies every line's df by K: the banner the gate
      // plants at df=2500 stays hot, content lines stay unique-per-doc
      val lined = corpus.select(col("doc_id"),
        regexp_replace(col("text"), "( \\S+ \\S+ \\S+ \\S+ \\S+ \\S+ \\S+) ",
          "$1\n").as("text"))
      graft.ext.TextAnalysis.dropBoilerplateLines(lined, "doc_id", "text",
        maxLineDf = k.toLong * 100).count()
    }
    timed("line_dedup") {
      // same re-lined corpus as boilerplate_lines, but the AUDITED
      // maxDocs screen: replication makes every line corpus-duplicated
      // (df = K), so the strip path runs at full pressure with the
      // count join left to AQE (the maxDocs=1 shape a forced broadcast
      // could not survive)
      val lined = corpus.select(col("doc_id"),
        regexp_replace(col("text"), "( \\S+ \\S+ \\S+ \\S+ \\S+ \\S+ \\S+) ",
          "$1\n").as("text"))
      graft.ext.Dedup.lineDedup(lined, "doc_id", "text").count()
    }
    timed("tile_dedup") {
      // replication makes every tile corpus-hot (count = K): the strip
      // path and the per-doc fold run at full duplication pressure
      graft.ext.Dedup.tileDuplication(corpus, "doc_id", "text").count()
    }
    timed("window_dedup_stride4") {
      // stride-1 at 8 words is 8x the tile explode; stride 4 is the
      // cost/recall midpoint the scaladoc documents
      graft.ext.Dedup.windowDuplication(corpus, "doc_id", "text",
        windowWords = 8, stride = 4).count()
    }
    timed("dsir") {
      // target slice = one replica's worth of ids; vocab stays the base
      // corpus's (replication adds no new words), so the estimator table
      // is constant while the token stream grows Kx
      graft.ext.Sampling.dsirWeights(corpus, "doc_id", "text",
        col("doc_id") < 1000000L).count()
    }
    timed("shard") {
      graft.ext.Sampling.shuffleShards(corpus.select(col("doc_id")),
        "doc_id", numShards = 64).count()
    }

    // ---- round-7 vector/string operators at Kx ----
    val emb0 = graft.Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    val nv0 = emb0.count()
    val embK = (0 until k).map { i =>
      emb0.select((col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"),
        col("embedding"))
    }.reduce(_ unionByName _)
    def timedVec(name: String)(body: => Long): Unit = if (selected(name)) {
      val t0 = System.nanoTime()
      val rows = body
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"op": "$name", "vectors": ${nv0 * k}, "replication": $k, "rows": $rows, "seconds": $secs%.1f}""")
      spark.catalog.clearCache()
    }
    timedVec("kmeans") {
      // shuffle volume per iteration must stay k*dim-keyed regardless of
      // corpus size; assignment is a broadcast map over Kx vectors
      graft.ext.KMeans.fit(embK, "vec_id", "embedding",
        k = 8, iters = 2).count()
    }
    timedVec("ivfpq_topk") {
      // candidate stream ~ nprobe/nlist of the Kx corpus; the LUT and
      // probe frames are query-sized broadcasts; two bounded trainings
      graft.ext.Pq.ivfAdcTopK(embK, "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L, 3L), k = 10).count()
    }
    timedVec("ivfpq_res") {
      // residual variant: same trainings + one extra zip_with per row
      // (residual rides the assignment pass); the LUT grows nprobe-fold
      // but stays query-sized — the delta vs ivfpq_topk is the evidence
      graft.ext.Pq.ivfAdcTopKRes(embK, "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L, 3L), k = 10).count()
    }
    if (selected("ivfpq_serve")) {
      // serving economics: the index builds ONCE (untimed — amortized
      // over every query batch); the timed body is the query path alone,
      // reading only centroids + codes, never a float corpus vector
      val idx = graft.ext.Pq.buildIndexRes(embK, "vec_id", "embedding")
      val frozen = idx.copy(entries = idx.entries.localCheckpoint(true))
      val qs = embK.filter(col("vec_id").isin(0L, 1L, 2L, 3L))
        .select(col("vec_id").as("qid"),
          transform(col("embedding"), x => x.cast("double")).as("__qv"))
        .localCheckpoint(true)
      timedVec("ivfpq_serve") {
        graft.ext.Pq.searchIndexRes(frozen, qs, "vec_id", k = 10).count()
      }
    }
    timedVec("hardneg") {
      // broadcast 4-query batch, one corpus scan with the label filter
      graft.ext.Similarity.hardNegatives(
        embK.withColumn("label", (col("vec_id") % 5).cast("int")),
        embK.filter(col("vec_id") < 4)
          .withColumn("label", (col("vec_id") % 5).cast("int")),
        "vec_id", "embedding", "label", k = 10).count()
    }
    if (selected("fuzzy_join")) locally {
      // names fixture replicated via the corpus loop would collide all
      // copies (identical strings pair across replicas -> quadratic BY
      // CONSTRUCTION); scale the fixture itself instead: K*300 distinct
      // md5 names keep the planted-typo density constant. Own JSON line:
      // the scale axis is names, not the 50k-doc corpus
      val t0 = System.nanoTime()
      val pairs = graft.ext.FuzzyJoin.editDistancePairs(
        graft.ext.Fixtures.plantedNames(spark, n = k * 300), "id", "name",
        maxDist = 1).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"op": "fuzzy_join", "names": ${k * 475}, "replication": $k, "pairs": $pairs, "seconds": $secs%.1f}""")
      spark.catalog.clearCache()
    }

    // ---- streaming at Kx events: is state still bounded and throughput
    // linear when the stream is 10x the conformance corpus? Replicate the
    // events table K times with shifted users (state cardinality grows
    // Kx — the stressful direction) into a scratch dir, then drive the
    // same watermarked pipelines the gates use.
    val events0 = graft.Tables.load(spark, "/root/testdata/sf0.1", "events")
    val ne = events0.count()
    val eventsK = (0 until k).map { i =>
      events0.select((col("user_id") + lit(i.toLong * 1000000L)).as("user_id"),
        col("ts"), col("event_type"), col("value"))
    }.reduce(_ unionByName _)
    val streamDir = graft.TempDirs.scratchDir("scale_events").toString
    eventsK.write.mode("overwrite").parquet(streamDir)
    val nev = ne * k
    def timedEv(name: String)(body: => Long): Unit = if (selected(name)) {
      val t0 = System.nanoTime()
      val rows = body
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"op": "$name", "events": $nev, "replication": $k, "rows": $rows, "seconds": $secs%.1f}""")
      spark.catalog.clearCache()
    }
    // file-stream over the scratch dir (already micro-second timestamps)
    def stream = spark.readStream
      .schema(eventsK.schema).parquet(streamDir)
    timedEv("stream_dedup") {
      val q = graft.streaming.EventStream
        .dedupStream(stream, Seq("user_id", "event_type"))
        .writeStream.outputMode("append")
        .format("memory").queryName("scale_dedup").start()
      q.processAllAvailable(); q.stop()
      spark.table("scale_dedup").count()
    }
    timedEv("sessionize_batch") {
      graft.streaming.EventStream.sessionizeBatch(eventsK, gapMinutes = 30)
        .count()
    }

    // ---- round-7 continuation operators at the same Kx ----
    timed("pack_sequences") {
      // the distributed prefix sum: only (id, n_tokens) pairs shuffle;
      // cost must track the tokenize scan, not a global sort
      graft.ext.TextAnalysis.packSequences(corpus, "doc_id", "text",
        budget = 512, buckets = 64).count()
    }
    timed("vocabulary") {
      graft.ext.TextAnalysis.vocabulary(corpus, "doc_id", "text",
        minDf = 5L * k, k = 1000).count()
    }
    timed("index_search") {
      // build postings for the Kx corpus AND serve one query from them
      val postings = graft.ext.TextAnalysis.buildIndex(corpus, "doc_id", "text")
      graft.ext.TextAnalysis.searchIndex(postings, "doc_id",
        Seq("spark", "window", "hash"), k = 15, nDocs = docs).count()
    }
    timedVec("semdedup_k64") {
      // SemDeDup at a REALISTIC k (clusters of ~300): the pairwise step
      // is bounded per cluster — 10x vectors with 10x clusters keeps the
      // per-task block constant, the O(N^2) formulation never appears
      graft.ext.Dedup.semanticDedup(embK, "vec_id", "embedding",
        k = 64, iters = 2, threshold = 0.95).count()
    }
    timedVec("pq_encode") {
      val cb = graft.ext.Pq.train(embK, "vec_id", "embedding",
        m = 2, k = 8, iters = 2).localCheckpoint(true)
      graft.ext.Pq.encode(embK, "vec_id", "embedding", cb, m = 2).count()
    }
    timedEv("funnel") {
      graft.ext.EventAnalytics.funnelCounts(eventsK, "user_id",
        "event_type", "ts", Seq("view", "click", "purchase")).count()
    }
    timedEv("cohort_daily") {
      graft.ext.EventAnalytics.retention(eventsK, "user_id", "ts",
        c => date_trunc("day", c).cast("date")).count()
    }
    if (selected("scd2_fold3")) locally {
      // SCD2 at Kx keys: 3 date-ordered folds over an orders-derived
      // observation stream, key space scaled by K
      val t0 = System.nanoTime()
      val ord0 = graft.Tables.load(spark, "/root/testdata/sf0.1", "orders")
      val obs = (0 until k).map { i =>
        ord0.select((col("o_custkey") % 50 + lit(i * 50L)).as("k"),
          col("o_orderdate").as("ts"), col("o_orderpriority").as("prio"),
          col("o_orderkey"))
      }.reduce(_ unionByName _)
        .groupBy(col("k"), col("ts"))
        .agg(min_by(col("prio"), col("o_orderkey")).as("prio"))
      val batches = Seq(
        obs.filter(year(col("ts")) <= 1994),
        obs.filter(year(col("ts")).between(1995, 1996)),
        obs.filter(year(col("ts")) >= 1997))
      val dim = batches.tail.foldLeft(graft.snapshot.Scd2.init(
        batches.head, Seq("k"), Seq("prio"), "ts")) { (cur, b) =>
        graft.snapshot.Scd2.merge(cur, b, Seq("k"), Seq("prio"), "ts")
      }
      val rows = dim.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"op": "scd2_fold3", "keys": ${k * 50}, "replication": $k, "rows": $rows, "seconds": $secs%.1f}""")
      spark.catalog.clearCache()
    }
    if (selected("triangles")) locally {
      // degree-oriented triangles on a Kx planted graph
      val t0 = System.nanoTime()
      val rows = graft.ext.Triangles.perNode(
        graft.ext.Fixtures.plantedEdges(spark, n = k * 400)).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"op": "triangles", "nodes": ${k * 400}, "replication": $k, "rows": $rows, "seconds": $secs%.1f}""")
      spark.catalog.clearCache()
    }

    // ---- final continuation batch at the same Kx ----
    val corpusSrc = (0 until k).map { i =>
      base.select((col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
        col("text"), col("source"))
    }.reduce(_ unionByName _)
    timed("fluency") {
      graft.ext.TextAnalysis.bigramFluency(corpus, "doc_id", "text").count()
    }
    timed("quality_filter") {
      // per-source quota windows at Kx: same 20 sources, each partition
      // 10x deeper — no shuffle widens
      graft.ext.TextAnalysis.qualityFilter(corpusSrc, "doc_id", "text",
        "source", keepFrac = 0.5).count()
    }
    timedEv("rolling_7d") {
      graft.ext.TimeSeries.rollingByTime(eventsK, "user_id", "ts", "value",
        windowSeconds = 7L * 86400).count()
    }
    timedEv("session_paths") {
      graft.ext.EventAnalytics.sessionPaths(
        eventsK.withColumn("event_id", col("user_id") * 1000000L +
          unix_micros(col("ts")) % 1000000L),
        "user_id", "event_type", "ts", "event_id").count()
    }
    if (selected("decontam_embed")) locally {
      // cross-corpus embedding decontamination at Kx corpus, fixed-size
      // benchmark: probe side broadcasts, corpus never shuffles
      val t0 = System.nanoTime()
      val bench = emb0.filter(col("vec_id") < 50)
        .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"))
      val rows = graft.ext.Similarity.dropEmbeddingMatches(
        embK, "vec_id", "embedding", bench, threshold = 0.9).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"op": "decontam_embed", "vectors": ${nv0 * k}, "replication": $k, "rows": $rows, "seconds": $secs%.1f}""")
      spark.catalog.clearCache()
    }
    timed("vocab_by_lang") {
      graft.ext.TextAnalysis.vocabularyByGroup(
        corpusSrc.withColumnRenamed("source", "lang"),
        "doc_id", "text", "lang", minDf = 3L * k, k = 50).count()
    }
    if (selected("winsorize")) locally {
      val t0 = System.nanoTime()
      val ord0 = graft.Tables.load(spark, "/root/testdata/sf0.1", "orders")
      val ordK = (0 until k).map { i =>
        ord0.select(col("o_orderpriority").as("g"),
          (col("o_totalprice") + lit(i.toDouble)).as("v"))
      }.reduce(_ unionByName _)
      val rows = graft.ext.Profile.winsorize(ordK, "g", "v", 0.05, 0.95)
        .groupBy(col("g")).count().count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"op": "winsorize", "rows_in": ${k * 150000}, "replication": $k, "rows": $rows, "seconds": $secs%.1f}""")
      spark.catalog.clearCache()
    }
    if (selected("bloom_join")) locally {
      // bloom semi-join at Kx probe: 6M lineitem rows pruned by a 64 KiB
      // filter before the exchange; build side stays sf0.1-sized
      val t0 = System.nanoTime()
      val li0 = graft.Tables.load(spark, "/root/testdata/sf0.1", "lineitem")
        .select(col("l_partkey"), col("l_extendedprice"))
      val liK = (0 until k).map { i =>
        li0.select(col("l_partkey"), (col("l_extendedprice") + lit(i.toDouble)).as("l_extendedprice"))
      }.reduce(_ unionByName _)
      val build = graft.Tables.load(spark, "/root/testdata/sf0.1", "part")
        .filter(col("p_size") < 10).select(col("p_partkey"), col("p_brand"))
      val rows = graft.ext.BloomJoin.join(liK, "l_partkey", build, "p_partkey",
        bits = 1 << 19, k = 4)
        .groupBy(col("p_brand")).count().count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"op": "bloom_join", "probe_rows": ${k * 600000}, "replication": $k, "rows": $rows, "seconds": $secs%.1f}""")
      spark.catalog.clearCache()
    }
    if (selected("concomp")) locally {
      // connected components on a Kx ring graph (larger diameter rings:
      // convergence rounds stay bounded by ring size, not graph size)
      val t0 = System.nanoTime()
      val n = 24000 * k
      val comps = graft.ext.ConnectedComponents.run(
        graft.ext.Fixtures.plantedComponents(spark, n = n, g = 8, bridgeEvery = 40),
        "src", "dst")
        .select(countDistinct(col("comp"))).collect()(0).getLong(0)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"op": "concomp", "nodes": $n, "components": $comps, "seconds": $secs%.1f}""")
      spark.catalog.clearCache()
    }
    timed("bpe_train") {
      graft.ext.Bpe.train(corpusSrc, "text", merges = 10).count()
    }
    if (selected("zorder")) locally {
      // z-order a Kx fact, then measure 2-D zone-map pruning: both
      // dimensions must skip most files
      val t0 = System.nanoTime()
      val ord0 = graft.Tables.load(spark, "/root/testdata/sf0.1", "orders")
      val ordK = (0 until k).map { i =>
        ord0.select((col("o_orderkey") + lit(i.toLong * 10000000L)).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).cast("long").as("year"))
      }.reduce(_ unionByName _)
      val wh = new graft.snapshot.Warehouse(spark,
        graft.TempDirs.scratchDir("graft_zorder_scale").toString)
      wh.append("f", ordK)
      wh.zOrderBy("f", "o_custkey", "o_totalprice", targetFiles = 64)
      wh.collectStats("f", Seq("o_custkey", "o_totalprice"))
      val all = wh.filesForRange("f", "o_custkey", Long.MinValue, Long.MaxValue).size
      val byKey = wh.filesForRange("f", "o_custkey", 100L, 1500L).size
      val byPrice = wh.filesForRange("f", "o_totalprice", 50000.0, 100000.0).size
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"op": "zorder", "rows": ${k * 150000}, "files": $all, "files_key": $byKey, "files_price": $byPrice, "seconds": $secs%.1f}""")
      spark.catalog.clearCache()
    }
    // Round-7 continuation-3 families at Kx
    timed("collocations") {
      graft.ext.TextAnalysis.collocations(corpus, "text",
        minCount = 5L, k = 20).count()
    }
    timed("weighted_sample") {
      graft.ext.Sampling.weightedSystematic(
        corpus.select(col("doc_id"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("w")),
        "doc_id", "w", step = 256, buckets = 64).count()
    }
    timed("class_terms") {
      graft.ext.TextAnalysis.classTerms(
        corpus.select((col("doc_id") % 16).as("cls"), col("text")),
        "cls", "text", k = 5, minTf = 3L).count()
    }
    if (selected("stats_family")) locally {
      val t0 = System.nanoTime()
      val ord0 = graft.Tables.load(spark, "/root/testdata/sf0.1", "orders")
      val ordK = (0 until k).map { i =>
        ord0.select((col("o_orderkey") + lit(i.toLong * 10000000L)).as("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice"))
      }.reduce(_ unionByName _)
      val g = graft.ext.Profile.gini(
        ordK.select(col("o_orderpriority").as("g"),
          col("o_totalprice").as("v")), "g", "v").count()
      val z = graft.ext.Profile.zscore(
        ordK.select(col("o_orderpriority").as("g"),
          col("o_orderkey").as("id"), col("o_totalprice").as("v")),
        "g", "id", "v").filter(col("id") % 9973 === 0).count()
      val qk = graft.ext.Profile.quantileSketch(
        ordK.select(col("o_orderpriority").as("g"),
          col("o_totalprice").as("v")), "g", "v",
        0.0, 600000.0, 256, Seq(0.5, 0.99)).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"op": "stats_family", "rows": ${k * 150000}, "gini_groups": $g, "z_rows": $z, "q_rows": $qk, "seconds": $secs%.1f}""")
      spark.catalog.clearCache()
    }
    // ---- round-8 privacy / reproducibility / source families at Kx ----
    if (selected("kanon")) locally {
      // k-anonymity at Kx rows over mid-cardinality quasi-identifiers
      // (~14k combos): the combo count table must stay combo-sized and the
      // join strategy is AQE's call (no forced broadcast) — cost must
      // track the fact scan, not the combo count
      val t0 = System.nanoTime()
      val cust0 = graft.Tables.load(spark, "/root/testdata/sf0.1", "customer")
      val custK = (0 until k).map { i =>
        cust0.select((col("c_custkey") + lit(i.toLong * 10000000L)).as("id"),
          col("c_mktsegment"), col("c_nationkey"),
          floor(col("c_acctbal") / 100).as("bal_bucket"))
      }.reduce(_ unionByName _)
      val kept = graft.ext.Privacy.kAnonymize(custK,
        Seq("c_mktsegment", "c_nationkey", "bal_bucket"), k = 5).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"op": "kanon", "rows_in": ${k * 15000}, "replication": $k, "rows": $kept, "seconds": $secs%.1f}""")
      spark.catalog.clearCache()
    }
    if (selected("purge")) locally {
      // GDPR purge on a Kx year-partitioned fact: erasing keys that live
      // in ONE year rewrites that partition alone; the other years' bytes
      // never move (partition-scoped, not table-scoped)
      val t0 = System.nanoTime()
      val ord0 = graft.Tables.load(spark, "/root/testdata/sf0.1", "orders")
      val ordK = (0 until k).map { i =>
        ord0.select((col("o_orderkey") + lit(i.toLong * 10000000L)).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).cast("long").as("year"))
      }.reduce(_ unionByName _)
      val wh = new graft.snapshot.Warehouse(spark,
        graft.TempDirs.scratchDir("graft_purge_scale").toString)
      wh.append("f", ordK)
      val tLoad = (System.nanoTime() - t0) / 1e9
      val years = wh.read("f").get.select(col("year")).distinct().count()
      // keys drawn from one year (the earliest; every replica's copy)
      val minYear = ord0.agg(min(year(col("o_orderdate")))).collect()(0).getInt(0)
      val keys = ord0.filter(year(col("o_orderdate")) === minYear)
        .select(col("o_orderkey")).limit(3).collect().map(_.getLong(0))
      val allKeys = (0 until k).flatMap(i => keys.map(_ + i.toLong * 10000000L))
      val t1 = System.nanoTime()
      wh.purgeKeys("f", "o_orderkey", allKeys)
      val tPurge = (System.nanoTime() - t1) / 1e9
      val left = wh.read("f").get.count()
      println(f"""{"op": "purge", "rows_in": ${k * 150000}, "partitions": $years, "touched": 1, "rows": $left, "load_s": $tLoad%.1f, "purge_s": $tPurge%.1f}""")
      spark.catalog.clearCache()
    }
    if (selected("timetravel")) locally {
      // snapshot tags at Kx: the pin is one listing + one manifest write;
      // a post-tag compaction retires displaced files; the time-travel
      // read re-reads the pinned byte set via the manifest (no data copy
      // at tag time, no directory diffing at read time)
      val t0 = System.nanoTime()
      val ord0 = graft.Tables.load(spark, "/root/testdata/sf0.1", "orders")
      val ordK = (0 until k).map { i =>
        ord0.select((col("o_orderkey") + lit(i.toLong * 10000000L)).as("o_orderkey"),
          col("o_totalprice"),
          year(col("o_orderdate")).cast("long").as("year"))
      }.reduce(_ unionByName _)
      val wh = new graft.snapshot.Warehouse(spark,
        graft.TempDirs.scratchDir("graft_tt_scale").toString)
      wh.append("f", ordK)
      val t1 = System.nanoTime()
      wh.tag("f", "pin")
      val tTag = (System.nanoTime() - t1) / 1e9
      wh.append("f", ordK.limit(1000))
      val t2 = System.nanoTime()
      wh.compact("f") // rewrite retires the pinned files instead of deleting
      val tCompact = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val pinned = wh.readTag("f", "pin").count()
      val tRead = (System.nanoTime() - t3) / 1e9
      println(f"""{"op": "timetravel", "rows": ${k * 150000}, "pinned_rows": $pinned, "tag_s": $tTag%.2f, "compact_retire_s": $tCompact%.1f, "read_tag_s": $tRead%.1f}""")
      spark.catalog.clearCache()
    }
    if (selected("file_source")) locally {
      // file-drop source at a many-file drop (K*50 CSV shards in one @date
      // dir): cost must be scan-bound, not per-file driver overhead
      val t0 = System.nanoTime()
      import spark.implicits._
      val drop = graft.TempDirs.scratchDir("graft_drop_scale")
      val shard = (1 to 1000).map(i => (i.toLong, i * 1.5)).toDF("k", "amount")
      shard.repartition(k * 50).write.option("header", "true")
        .mode("overwrite").csv(s"$drop/2024-02-01")
      val tWrite = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val n = graft.snapshot.SnapshotJob.runFile(spark,
        graft.snapshot.SnapshotJob.FileSource(s"$drop/@date", "csv",
          Map("header" -> "true", "schema" -> "k BIGINT, amount DOUBLE")),
        java.time.LocalDate.parse("2024-02-01")).count()
      val secs = (System.nanoTime() - t1) / 1e9
      println(f"""{"op": "file_source", "files": ${k * 50}, "rows": $n, "write_s": $tWrite%.1f, "read_s": $secs%.1f}""")
      spark.catalog.clearCache()
    }
    // ---- round-9 quality/LM operators at Kx docs ----
    timed("gopher") {
      // per-doc repetition screens: one native per-row pass, zero
      // shuffles — cost must track corpus tokens. Aggregate the metric
      // columns so count() can't prune the projection away
      graft.ext.Repetition.gopherFilter(corpus, "doc_id", "text")
        .agg(sum(col("chars")), sum(col("top_2gram_char_frac")),
          sum(col("keep").cast("long"))).collect()
      docs
    }
    timed("lm_score") {
      // count tables train on ONE replica (vocab constant), the scored
      // token stream grows Kx; five AQE-planned key joins
      val m = graft.ext.NgramLm.train(
        corpus.filter(col("doc_id") < 1000000L), "text")
      graft.ext.NgramLm.score(m, corpus, "doc_id", "text").count()
    }
    timed("quality_lr") {
      // 8 GD steps = 8 hash-aggregates of 4 longs over Kx rows; the
      // model state is 4 doubles on the driver at any corpus size
      val toks = split(col("text"), " ")
      val sw = array(graft.ext.TextAnalysis.defaultStopwords.map(lit): _*)
      val feats = corpus.select(col("doc_id"),
        (col("doc_id") % 2 === 0).cast("double").as("y"),
        (size(filter(toks, t => array_contains(sw, t))).cast("double") /
          size(toks)).as("f_stop"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("f_ttr"))
      val w = graft.ext.LogReg.train(feats, Seq("f_stop", "f_ttr"), "y")
      graft.ext.LogReg.predict(feats, Seq("f_stop", "f_ttr"), w)
        .agg(sum(col("score_micro"))).collect()
      docs
    }
    timed("curate_funnel") {
      // the composed pipeline: dedup groupBy + per-row gopher + LM joins;
      // replication makes every doc an exact dup (K copies) so the dedup
      // stage carries full pressure. Model trains on one replica
      val m = graft.ext.NgramLm.train(
        corpus.filter(col("doc_id") < 1000000L), "text")
      val r = graft.ext.Curation.curate(corpus, "doc_id", "text", m,
        minScore = -1.3)
      r.funnel.collect().foreach(x => println(s"  $x"))
      docs
    }
    timed("screens") {
      // the zero-shuffle screen family in one pass: lexical rules +
      // Luhn masking over Kx docs, plus the suffix-chain URL join
      val lex = graft.ext.QualityRules.gopherLexical(corpus,
        "doc_id", "text", minWords = 10L)
      val urls = corpus.select(col("doc_id"),
        concat(lit("https://s"), (col("doc_id") % 1000).cast("string"),
          lit(".example.org/p")).as("url"))
      import spark.implicits._
      val bl = Seq("s1.example.org", "s7.example.org").toDF("domain")
      val blocked = graft.ext.UrlFilter.annotateBlocked(urls, "doc_id",
        "url", bl)
      lex.join(blocked.select(col("doc_id"), col("blocked")), "doc_id")
        .select(col("doc_id"),
          graft.ext.Pii.maskCards(lit("pay 4111111111111111 now"))
            .as("m"), col("keep"), col("blocked"))
        .agg(count(lit(1)), sum(col("keep").cast("long")),
          sum(col("blocked").cast("long")), max(length(col("m"))))
        .collect()
      docs
    }
    timed("funnel_full") {
      // the COMPLETE chain at Kx: url/lex/rep screens + LM joins + two
      // dedup group-bys + decontam + export stages, 11 eager stages —
      // cost must track the stage sum, with the text-keyed dedup and
      // tile shuffles carrying full K-way duplication pressure
      import spark.implicits._
      val full = corpus
        .withColumn("source", concat(lit("src"),
          (col("doc_id") % 20).cast("string")))
        .withColumn("url", concat(lit("https://s"),
          (col("doc_id") % 1000).cast("string"), lit(".example.org/p")))
      val m = graft.ext.NgramLm.train(
        corpus.filter(col("doc_id") < 1000000L), "text")
      val bl = Seq("s1.example.org", "s7.example.org").toDF("domain")
      val bench = corpus.filter(col("doc_id") < 1000000L)
        .filter(col("doc_id") % 29 === 0)
      // minScore -99: the all-lang replica model scores below the gate's
      // English-slice threshold; keep-all preserves DOWNSTREAM pressure
      // (the dedup/decontam/export stages must carry the full corpus)
      val r = graft.ext.Curation.curateFull(full, "doc_id", "text",
        "url", "source", bl, m, minScore = -99.0, bench, "text", benchN = 3,
        mixtureWeights = Seq("src0" -> 0.5, "src2" -> 0.25, "src4" -> 0.125),
        mixtureTotal = 24, packBudget = 512, packBuckets = 16,
        numShards = 8,
        hashOf = c => pmod(c.cast("long") * 2654435761L, lit(4294967296L)),
        lexMinWords = 10L, minCleanWords = 10L)
      r.funnel.collect().foreach(x => println(s"  $x"))
      docs
    }
    timed("stream_tiles") {
      // continuous substring scrub: 3 sequential batches over Kx docs,
      // each probing the persisted (batch-partitioned) index — cost per
      // batch is O(batch tiles) + the index count-join
      val wh = new graft.snapshot.Warehouse(spark,
        graft.TempDirs.scratchDir("sd_ts_wh").toString)
      val idxDir = graft.TempDirs.scratchDir("sd_ts_idx").toString
      val staged = corpus
        .withColumn("year", lit(2020L) + col("doc_id") % 3)
      (0L to 2L).foreach { b =>
        graft.streaming.TileScrub.ingestBatch(
          staged.filter(col("doc_id") % 3 === b), "doc_id", "text",
          wh, "scrubbed", idxDir, b)
      }
      wh.read("scrubbed").get.count()
    }
    timed("leak_split_minhash") {
      // the scale entry point: banded-LSH pairs (linear shuffle) drive
      // the cluster-atomic split instead of the exact-Jaccard graph
      val pairs = graft.ext.Dedup.minhashPairs(corpus, "doc_id", "text",
        n = 3, numHashes = 128, bands = 32, threshold = 0.8)
      graft.ext.Sampling.leakFreeSplitFromPairs(corpus, "doc_id", pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split")).agg(count(lit(1))).collect()
      docs
    }
    timedVec("pca_cov") {
      // one Kx corpus scan exploding to d(d+1)/2-key partial aggregates:
      // shuffle stays 2080 keys regardless of K, output is matrix-sized
      graft.ext.Pca.covariance(embK, "vec_id", "embedding").count()
    }
    timed("auc") {
      // exact Mann-Whitney AUC over Kx scored rows: corpus collapses to
      // the distinct-score table (bounded by the micro-unit domain) in
      // one hash agg; the rank prefix is bucketed, never a global window
      val scoredK = corpus.select(col("doc_id"),
        pmod(xxhash64(col("doc_id")), lit(1000000L)).as("s"),
        (col("doc_id") % 3 === 0).cast("long").as("y"))
      graft.ext.Eval.rocAuc(scoredK, "s", "y").collect()
      docs
    }
    if (selected("bloom_probe")) locally {
      // equality file-skipping: manifest build is one aggregation scan
      // (amortized, like the serving index); the timed probe reads the
      // sidecar + only the surviving files. bits sized to keys/file
      // (~K*1000/32 distinct keys -> 2^17 bits keeps FP < 1% at K=50;
      // the 8 Kib default saturates there and stops pruning)
      val wh = new graft.snapshot.Warehouse(spark,
        graft.TempDirs.scratchDir("sd_bloom_wh").toString)
      wh.append("f", corpus.select(col("doc_id"),
        (lit(2020L) + col("doc_id") % 4).as("year")))
      wh.optimize("f", Seq("doc_id"), targetFiles = 32)
      wh.collectBloom("f", "doc_id", bits = 1 << 17)
      val all = wh.filesForRange("f", "doc_id", Long.MinValue, Long.MaxValue).size
      val t0 = System.nanoTime()
      val scanned = wh.filesForEquals("f", "doc_id", 123L).size
      val hit = wh.readEquals("f", "doc_id", 123L).get.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"op": "bloom_probe", "rows": $docs, "replication": $k, "files": $all, "files_scanned": $scanned, "rows_hit": $hit, "seconds": $secs%.1f}""")
      spark.catalog.clearCache()
    }
    timed("html_strip") {
      // re-wrap the replicated corpus in the x_text_html page shell and
      // strip; per-row regex chain, zero shuffles — the count aggregates
      // over the computed column so the projection cannot be pruned
      val shelled = corpus.select(col("doc_id"), concat(
        lit("<html><head><script>var x = 1 < 2;</script></head>" +
          "<body><!-- c --><p>"), col("text"),
        lit("</p><div>Tom &amp; <b>Jerry</b></div></body></html>")).as("h"))
      shelled.select(graft.ext.WebText.htmlStrip(col("h")).as("t"))
        .agg(sum(length(col("t")))).collect()(0).getLong(0)
    }
    timed("script_profile") {
      graft.ext.WebText.scriptProfile(corpus, "doc_id", "text")
        .agg(sum(col("n_latin") + col("n_han"))).collect()(0).getLong(0)
    }
    timed("corpus_overlap") {
      // split the replicated corpus in half and measure the overlap
      // statistic end-to-end: one 8-byte-keyed shuffle over ~K x 6M
      // trigram occurrences
      graft.ext.Dedup.corpusOverlap(
        corpus.filter(col("doc_id") % 2 === 0),
        corpus.filter(col("doc_id") % 2 === 1), "text", n = 3)
        .collect()(0).getAs[Long]("n_union")
    }
    timed("unigram_train") {
      // trains over the DISTINCT TYPE table: replication multiplies
      // type counts, not the trainer's work — wall should stay ~flat
      graft.ext.Unigram.train(corpus, "text", maxPieceLen = 4,
        maxVocab = 60, rounds = 2).count()
    }
    timed("unigram_encode") {
      val v = graft.ext.Unigram.train(corpus, "text", maxPieceLen = 4,
        maxVocab = 60, rounds = 2)
      graft.ext.Unigram.encodeDocs(corpus, "doc_id", "text", v)
        .agg(sum(col("n_pieces"))).collect()(0).getLong(0)
    }
    timed("url_canon") {
      // canonicalization is pure per-row string algebra (zero shuffles);
      // the dedup adds one keeper hash-agg + join — linear in crawl rows
      val urls = corpus.select(col("doc_id"), concat(lit("HTTPS://www."),
        (col("doc_id") % 1000).cast("string"), lit(".Example.org:443/p/"),
        (col("doc_id") % 50).cast("string"),
        lit("?utm_source=x&b=2&a=1#f")).as("url"))
      graft.ext.UrlFilter.annotateUrlDup(urls, "doc_id", "url")
        .agg(sum(col("kept").cast("long"))).collect()(0).getLong(0)
    }
    timed("decontam_span") {
      // benchmark stays fixture-sized while the corpus replicates: the
      // corpus pays the two linear tile passes + one 8-byte-keyed
      // distinct/left-join, the bench window set broadcasts
      val ws = split(trim(col("text")), "\\s+")
      val bench = base.filter(col("doc_id") % 17 === 0)
        .select(array_join(slice(ws, 4, 16), " ").as("btext"))
      graft.ext.Dedup.decontaminateSpans(corpus, "doc_id", "text",
        bench, "btext")
        .agg(sum(col("hit_tiles"))).collect()(0).getLong(0)
    }
    timed("wordpiece_encode") {
      // greedy match runs once per distinct TYPE (bpe_encode shape):
      // replication multiplies occurrences, not types — ~flat wall
      val pieces = Seq("s", "sc", "scan", "t", "the", "w", "j", "a",
        "b", "m", "o", "k", "##an") ++ ('a' to 'z').map(c => s"##$c")
      graft.ext.Wordpiece.encodeDocs(corpus, "doc_id", "text", pieces)
        .agg(sum(col("n_pieces"))).collect()(0).getLong(0)
    }
    timed("domain_screen") {
      // one profile hash-agg over ~1k hosts + one AQE join back
      val flagged = corpus.select(col("doc_id"),
        concat(lit("https://h"), (col("doc_id") % 997).cast("string"),
          lit(".example.org/p")).as("url"),
        (((col("doc_id") * 37) % 1000) * 1000).as("score_micro"),
        (col("doc_id") % 7 === 0).as("flagged"))
      graft.ext.UrlFilter.annotateDomainScreen(flagged, "doc_id", "url",
        "score_micro", "flagged", 480000L, 500000L)
        .agg(sum(col("domain_blocked").cast("long"))).collect()(0).getLong(0)
    }
    timed("labelprop_multi") {
      // graph scales by node count (not corpus replication): 4 LP
      // rounds O(|E|) each + contraction + 2 weighted rounds on the
      // ring-count-sized coarse graph
      graft.ext.LabelProp.multilevel(
        graft.ext.Fixtures.plantedComponents(spark, 240 * k * 20, 8, 4),
        "src", "dst", rounds1 = 4, rounds2 = 2)
        .agg(countDistinct(col("label"))).collect()(0).getLong(0)
    }
    timed("chunk_sent") {
      // one regexp extraction + one append-only fold + posexplode,
      // zero shuffles — linear in corpus bytes
      val ws = split(trim(col("text")), "\\s+")
      val slen = (col("doc_id") % 4 + 3).cast("int")
      val nS = floor((size(ws) + slen - 1).cast("double") / slen).cast("int")
      val planted = corpus.select(col("doc_id"),
        concat(array_join(transform(sequence(lit(1), nS), i =>
          array_join(slice(ws, ((i - 1) * slen + 1).cast("int"), slen), " ")),
          ". "), lit(".")).as("text"))
      graft.ext.TextAnalysis.chunkBySentences(planted, "doc_id", "text",
        maxWords = 12)
        .agg(sum(col("n_chunk_words"))).collect()(0).getLong(0)
    }
    timed("average_precision") {
      // corpus collapses to the distinct-score table (1000 scores here
      // regardless of K); the prefix is bucketed, the rest is one agg
      val scored = corpus.select(
        (((col("doc_id") * 37) % 1000) * 1000).as("score_micro"),
        (col("doc_id") % 3 === 0).cast("long").as("y"))
      val r = graft.ext.Eval.averagePrecision(scored, "score_micro", "y")
        .collect()(0)
      r.getLong(1) + r.getLong(2)
    }
    timed("kmv_overlap") {
      // the sketch path at the same scale: two bottom-256 reductions +
      // a 256-row merge — wall should stay ~flat vs corpus_overlap
      graft.ext.Dedup.corpusOverlapKmv(
        corpus.filter(col("doc_id") % 2 === 0),
        corpus.filter(col("doc_id") % 2 === 1), "text", n = 3, k = 256)
        .collect()(0).getAs[Long]("s_size")
    }
    timed("text_entropy") {
      // native one-pass: zero shuffle, wall must track corpus bytes
      corpus.select(graft.ext.TextAnalysis.wordEntropy(col("text")).as("e"))
        .agg(sum(col("e.entropy_nano"))).collect()(0).getLong(0)
    }
    timed("hash_features") {
      // featurize only (training is a fixed-iteration constant measured
      // by quality_lr): one bigram pass + one 8-bucket pivot hash-agg
      graft.ext.FeatureHash.textBigramFeatures(
        corpus, "doc_id", "text", buckets = 8).count()
    }
    timedVec("cluster_quality") {
      // training shape identical to kmeans; the scorecard adds ONE more
      // broadcast argmin pass — wall must stay a small multiple of kmeans
      graft.ext.KMeans.clusterQuality(embK, "vec_id", "embedding",
        k = 8, iters = 2).count()
    }
    timed("image_content") {
      // real zlib decode + unfilter + hashes per row, zero shuffle:
      // wall must track pixel count (docs x 256), never pair counts
      val png = graft.ext.Multimodal.syntheticGrayPngCorpus(corpus,
        "doc_id", col("doc_id") % 200, lit(16), lit(16), col("doc_id") % 5)
      graft.ext.Multimodal.imageContentStats(png)
        .agg(sum(col("sum_luma")) + sum(col("ahash_lo"))).collect()(0)
        .getLong(0)
    }
    timed("image_dedup") {
      // classes SCALE with K (200·K) so per-class cluster size stays
      // ~25 at any replication — identical fingerprints collide on all
      // 56 banding tables, so a K-fixed class count would grow each key
      // group K× and the pair join K²× (the round-12 K=100 run proved
      // it: shuffle spill filled the disk — the FIXTURES.md lesson
      // applied here, the same reason x_mm_imgdup plants 200 classes
      // at sf0.1 instead of 8)
      val png = graft.ext.Multimodal.syntheticGrayPngCorpus(corpus,
        "doc_id", col("doc_id") % (200L * k), lit(16), lit(16),
        col("doc_id") % 5)
      graft.ext.Multimodal.imageNearDupPairs(png, maxHamming = 4).count()
    }
    timed("audio_content") {
      // PCM sample decode: wall tracks sample count (docs x ~140)
      val wav = graft.ext.Multimodal.syntheticPcmCorpus(corpus, "doc_id",
        col("doc_id") % 9, lit(40) + (col("doc_id") % 50) * 4, lit(8000))
      graft.ext.Multimodal.audioContentStats(wav)
        .agg(sum(col("sum_abs")) + sum(col("zero_cross"))).collect()(0)
        .getLong(0)
    }
    timed("webp_content") {
      // round 14: full VP8L entropy decode (canonical prefix codes,
      // LSB-first stream) + subtract-green inverse + hashes per row,
      // zero shuffle — wall must track pixel count like the PNG row
      val webp = graft.ext.Multimodal.syntheticGrayWebpCorpus(corpus,
        "doc_id", col("doc_id") % 200, lit(16), lit(16), col("doc_id") % 5)
      graft.ext.Multimodal.webpContentStats(webp)
        .agg(sum(col("sum_luma")) + sum(col("ahash_lo"))).collect()(0)
        .getLong(0)
    }
    timed("flac_content") {
      // round 14: CRC-verified FLAC frame walk + Rice/predictor decode
      // per row (subframe types cycle per frame); wall tracks samples
      val flac = graft.ext.Multimodal.syntheticFlacCorpus(corpus,
        "doc_id", col("doc_id") % 9, lit(40) + (col("doc_id") % 50) * 4,
        lit(8000))
      graft.ext.Multimodal.flacContentStats(flac)
        .agg(sum(col("sum_abs")) + sum(col("zero_cross"))).collect()(0)
        .getLong(0)
    }
    timed("pdf_text") {
      // round 14: object walk + FlateDecode + show-operator token walk
      // per row; wall tracks total stream bytes, zero shuffle
      val pdf = graft.ext.Multimodal.syntheticPdfCorpus(corpus, "doc_id",
        col("doc_id") % 13, lit(1) + col("doc_id") % 4)
      graft.ext.Multimodal.pdfText(pdf)
        .agg(sum(col("cp_sum")) + sum(col("n_chars"))).collect()(0)
        .getLong(0)
    }
    timed("http_text") {
      // round 14: WARC walk -> HTTP de-chunk/gunzip -> charset resolve
      // -> strict decode, all in one scan projection (rows explode
      // ~8x per doc: one per response record)
      val warc = graft.ext.Multimodal.syntheticWarcCharsetCorpus(corpus,
        "doc_id", col("doc_id") % 7, lit(4) + col("doc_id") % 9)
      graft.ext.Multimodal.warcHttpTexts(warc)
        .agg(sum(col("cp_sum")) + count(lit(1))).collect()(0).getLong(0)
    }
    timed("cid_text") {
      // round 15: Type0/CID PDF text — object indexing + Flate'd
      // ToUnicode CMap decode + 2-byte CID show strings per row;
      // zero-shuffle scan like pdf_text
      val pdf = graft.ext.Multimodal.syntheticPdfCidCorpus(corpus,
        "doc_id", col("doc_id") % 17, lit(1) + col("doc_id") % 4)
      graft.ext.Multimodal.pdfText(pdf)
        .agg(sum(col("cp_sum")) + sum(col("n_chars"))).collect()(0)
        .getLong(0)
    }
    timed("avif_meta") {
      // round 15: ISO-BMFF meta spine walk (pitm/ipma/ipco/ispe) per
      // row — pure box arithmetic, zero codec decode, zero shuffle
      val m = corpus.select(col("doc_id").as("media_id"),
        graft.ext.BmffMetaEncode(col("doc_id") % 19, col("doc_id") % 2)
          .as("content"))
      graft.ext.Multimodal.bmffImageMeta(m)
        .agg(sum(col("width")) + sum(col("n_items"))).collect()(0)
        .getLong(0)
    }
    timed("webm_meta") {
      // round 15: EBML element walk + cluster/block census per row
      val m = corpus.select(col("doc_id").as("media_id"),
        graft.ext.MkvEncode(col("doc_id") % 23).as("content"))
      graft.ext.Multimodal.mkvMeta(m)
        .agg(sum(col("pixel_width")) + sum(col("frame_bytes")))
        .collect()(0).getLong(0)
    }
    timed("ogg_meta") {
      // round 15: CRC-verified page walk (every byte CRC'd) with
      // per-serial packet closure; the multiplexed seeds double pages
      val m = corpus.select(col("doc_id").as("media_id"),
        graft.ext.OggEncode(col("doc_id") % 31,
          lit(1L) + col("doc_id") % 5).as("content"))
      graft.ext.Multimodal.oggMeta(m)
        .agg(sum(col("last_granule")) + sum(col("n_packets")))
        .collect()(0).getLong(0)
    }
    timed("mp4_meta") {
      // round 15: moov walk (mvhd/trak/stsd) + tx3g text samples
      val m = corpus.select(col("doc_id").as("media_id"),
        graft.ext.Mp4MovieEncode(col("doc_id") % 27).as("content"))
      graft.ext.Multimodal.mp4MovieMeta(m)
        .agg(sum(col("width")) + sum(col("n_text_samples")))
        .collect()(0).getLong(0)
    }
    timed("zstd_http") {
      // round 15: the WARC -> HTTP chain with the 4-form wire cycle —
      // a quarter of the records ride full RFC 8878 frame decode
      // (XXH64-verified); one scan projection, no exchange
      val warc = graft.ext.Multimodal.syntheticWarcHttpCorpus(corpus,
        "doc_id", col("doc_id") % 11, lit(8L))
      graft.ext.Multimodal.warcHttpResponses(warc)
        .agg(sum(col("byte_sum")) + count(lit(1))).collect()(0)
        .getLong(0)
    }
    timed("cdc_dedup") {
      // content-defined chunking + chunk-group dedup: chunking is a
      // zero-shuffle linear byte scan (O(1)/byte rolling boundary),
      // the dedup shuffles 8-byte chunk keys only. Content classes
      // SCALE with K (23·K seeds) so chunk-group size stays ~constant
      // at any replication — the image_dedup lesson
      val blobs = corpus.select(col("doc_id").as("media_id"),
        graft.ext.FormulaBlobEncode(col("doc_id") % (23L * k),
          lit(1536) + (col("doc_id") % 5) * 256).as("content"))
      graft.ext.Cdc.chunkDedup(blobs, maskBits = 8).count()
    }
    timed("binary_dedup") {
      // digest-grouped exact dedup: the shuffle moves 32-byte digests,
      // never the payloads; groups = 13 residue classes at any K
      val png = graft.ext.Multimodal.syntheticGrayPngCorpus(corpus,
        "doc_id", col("doc_id") % 13, lit(12), lit(10), lit(0))
      graft.ext.Multimodal.binaryExactDedup(png)
        .agg(sum(col("n_copies"))).collect()(0).getLong(0)
    }
    if (selected("imgingest_probe")) {
      // the streaming image-dedup O(delta) claim: seed an index of K×5000
      // DISTINCT fingerprints (seed = doc_id, every image unique), then
      // ingest ONE fixed 500-image batch — per-trigger wall must track
      // the batch, not the index (stored band keys probed by a broadcast
      // of the batch's 56·500 keys; no index-side explode or shuffle).
      // Evidence reads across a K sweep: probe_s flat while seed rows
      // grow K×.
      val wh = new graft.snapshot.Warehouse(spark,
        graft.TempDirs.scratchDir("sd_ii_wh").toString)
      val idxDir = graft.TempDirs.scratchDir("sd_ii_idx").toString
      val seedImgs = graft.ext.Multimodal.syntheticGrayPngCorpus(
        corpus.select(col("doc_id")), "doc_id", col("doc_id"),
        lit(16), lit(16), lit(0))
      val t0 = System.nanoTime()
      graft.streaming.ImageIngest.seedIndex(seedImgs, "media_id",
        "content", idxDir)
      val tSeed = (System.nanoTime() - t0) / 1e9
      val batch = graft.ext.Multimodal.syntheticGrayPngCorpus(
        spark.range(500).select((col("id") + 900000000L).as("doc_id")),
        "doc_id",
        // half the batch near-dups a seeded class, half is novel —
        // both the drop and the fact-append legs run
        when(col("doc_id") % 2 === 0, col("doc_id") % 800)
          .otherwise(col("doc_id")),
        lit(16), lit(16), lit(1))
        .withColumn("year", lit(2020L))
      val t1 = System.nanoTime()
      graft.streaming.ImageIngest.ingestBatch(batch, "media_id",
        "content", wh, "novel", idxDir, 0L)
      val tProbe = (System.nanoTime() - t1) / 1e9
      val kept = wh.read("novel").map(_.count()).getOrElse(0L)
      println(f"""{"op": "imgingest_probe", "index_fps": $docs, "batch": 500, "kept": $kept, "seed_s": $tSeed%.1f, "probe_s": $tProbe%.1f}""")
      spark.catalog.clearCache()
    }
    if (selected("audingest_probe")) {
      // the audio twin of imgingest_probe: seed K×5000 DISTINCT spectral
      // fingerprints (cls = doc_id), ingest one fixed 500-clip batch —
      // per-trigger wall must track the batch across a K sweep (stored
      // band keys probed by a broadcast of the batch's keys)
      val wh = new graft.snapshot.Warehouse(spark,
        graft.TempDirs.scratchDir("sd_ai_wh").toString)
      val idxDir = graft.TempDirs.scratchDir("sd_ai_idx").toString
      val seedClips = graft.ext.Multimodal.syntheticToneCorpus(
        corpus.select(col("doc_id")), "doc_id", col("doc_id"), lit(0),
        lit(320), lit(16000))
      val t0 = System.nanoTime()
      graft.streaming.AudioIngest.seedIndex(seedClips, "media_id",
        "content", idxDir)
      val tSeed = (System.nanoTime() - t0) / 1e9
      val batch = graft.ext.Multimodal.syntheticToneCorpus(
        spark.range(500).select((col("id") + 900000000L).as("doc_id")),
        "doc_id",
        // half the batch near-dups a seeded class (bump 1), half novel
        when(col("doc_id") % 2 === 0, col("doc_id") % 800)
          .otherwise(col("doc_id")),
        lit(1), lit(320), lit(16000))
        .withColumn("year", lit(2021L))
      val t1 = System.nanoTime()
      graft.streaming.AudioIngest.ingestBatch(batch, "media_id",
        "content", wh, "novel", idxDir, 0L)
      val tProbe = (System.nanoTime() - t1) / 1e9
      val kept = wh.read("novel").map(_.count()).getOrElse(0L)
      println(f"""{"op": "audingest_probe", "index_fps": $docs, "batch": 500, "kept": $kept, "seed_s": $tSeed%.1f, "probe_s": $tProbe%.1f}""")
      spark.catalog.clearCache()
    }
    if (selected("tilescrub_probe")) {
      // batch-keyed bloom prune: seed a K×-corpus tile index, ingest one
      // fixed 500-doc batch — the index rows surviving to the collapse
      // shuffle are only those passing the batch-key bloom, so probe
      // wall tracks the batch across a K sweep while seed rows grow K×
      val wh = new graft.snapshot.Warehouse(spark,
        graft.TempDirs.scratchDir("sd_ts_wh").toString)
      val idxDir = graft.TempDirs.scratchDir("sd_ts_idx").toString
      val t0 = System.nanoTime()
      graft.streaming.TileScrub.seedIndex(corpus, "doc_id", "text", idxDir)
      val tSeed = (System.nanoTime() - t0) / 1e9
      val batch = base.limit(500)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
        .withColumn("year", lit(2020L))
      val t1 = System.nanoTime()
      graft.streaming.TileScrub.ingestBatch(batch, "doc_id", "text",
        wh, "scrubbed", idxDir, 0L)
      val tProbe = (System.nanoTime() - t1) / 1e9
      val rows = wh.read("scrubbed").map(_.count()).getOrElse(0L)
      println(f"""{"op": "tilescrub_probe", "index_docs": $docs, "batch": 500, "rows": $rows, "seed_s": $tSeed%.1f, "probe_s": $tProbe%.1f}""")
      spark.catalog.clearCache()
    }
    if (selected("tilescrub_parts")) {
      // FILE-LEVEL pruning evidence (round 13): an index of 40 batch
      // partitions, each 50·K docs of a disjoint tile class; one fixed
      // 500-doc probe batch repeating only classes 0-2. The sidecar
      // blooms must keep the probe's partition reads BOUNDED BY THE
      // OVERLAP (~3 of 40) at every K — IO, not just exchange, tracks
      // the batch. parts_read / parts_total is the row's claim.
      val wh = new graft.snapshot.Warehouse(spark,
        graft.TempDirs.scratchDir("sd_tp_wh").toString)
      val idxDir = graft.TempDirs.scratchDir("sd_tp_idx").toString
      def classText(cls: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat_ws(" ", (1 to 16).map(i =>
          concat(lit("c"), cls, lit(s"w$i"))): _*)
      val t0 = System.nanoTime()
      for (b <- 0 until 40) {
        val df = spark.range(50L * k)
          .select((col("id") + b * 1000000L).as("doc_id"),
            classText(lit(b)).as("text"), lit(2020L).as("year"))
        graft.streaming.TileScrub.ingestBatch(df, "doc_id", "text",
          wh, "scrub40", idxDir, b.toLong)
      }
      val tSeed = (System.nanoTime() - t0) / 1e9
      val probe = spark.range(500)
        .select((col("id") + 900000000L).as("doc_id"),
          classText(col("id") % 3).as("text"), lit(2021L).as("year"))
      val t1 = System.nanoTime()
      graft.streaming.TileScrub.ingestBatch(probe, "doc_id", "text",
        wh, "scrub40", idxDir, 40L)
      val tProbe = (System.nanoTime() - t1) / 1e9
      val pr = graft.streaming.ScrubMetrics.lastPartsRead
      val pt = graft.streaming.ScrubMetrics.lastPartsTotal
      println(f"""{"op": "tilescrub_parts", "index_docs": ${40 * 50 * k}, "batch": 500, "parts_read": $pr, "parts_total": $pt, "seed_s": $tSeed%.1f, "probe_s": $tProbe%.1f}""")
      spark.catalog.clearCache()
    }
    timed("bpe_sharded") {
      // the no-driver-table trainer: replication multiplies FREQUENCIES
      // (the type table stays base-sized), so wall = one corpus word
      // pass + type-table-bound rounds — the trainLocal claim, sharded
      graft.ext.Bpe.trainSharded(corpus, "text", merges = 20,
        numShards = 16).count()
    }
    timed("video_pixels") {
      // the MJPEG leg is a zero-shuffle linear scan (one RIFF walk +
      // per-frame Huffman+IDCT per row): wall must scale ~K with flat
      // per-doc cost; the agg forces every frame's decode (a bare
      // count would let Catalyst prune the decode projection)
      val vids = graft.ext.Multimodal.syntheticMjpegAviCorpus(
        corpus.select(col("doc_id")), "doc_id",
        col("doc_id") % 23, lit(2), lit(4), lit(4))
      val r = graft.ext.Multimodal.videoFrameContentStats(vids)
        .agg(sum(col("sum_luma")), count(lit(1))).collect()(0)
      r.getLong(1)
    }
    timed("archive_walk") {
      // WARC + tar + zip walks are zero-shuffle linear scans; ~K·15000
      // members/records walked with full payload byte-sums forced
      val ids = corpus.select(col("doc_id"))
      val w = graft.ext.Multimodal.warcRecords(
        graft.ext.Multimodal.syntheticWarcCorpus(ids, "doc_id",
          col("doc_id") % 13, lit(3), col("doc_id") % 3 === 0))
        .agg(sum(col("byte_sum")), count(lit(1))).collect()(0).getLong(1)
      val t = graft.ext.Multimodal.tarMembers(
        graft.ext.Multimodal.syntheticTarCorpus(ids, "doc_id",
          col("doc_id") % 17, lit(3)))
        .agg(sum(col("byte_sum")), count(lit(1))).collect()(0).getLong(1)
      val z = graft.ext.Multimodal.zipMembers(
        graft.ext.Multimodal.syntheticZipCorpus(ids, "doc_id",
          col("doc_id") % 19, lit(3), col("doc_id") % 2 === 0))
        .agg(sum(col("byte_sum")), count(lit(1))).collect()(0).getLong(1)
      w + t + z
    }
    timedVec("ann_recall") {
      // both sides of the scorecard at Kx: approx = pruned ADC scan,
      // exact = one broadcast corpus scan; the overlap join is 40 rows
      val qids = Seq(0L, 1L, 2L, 3L)
      val approx = graft.ext.Pq.ivfAdcTopK(embK, "vec_id", "embedding",
        queryIds = qids, k = 10)
      val exact = graft.ext.Similarity.bruteForceTopKL2(embK,
        embK.filter(col("vec_id").isin(qids: _*)), "vec_id", "embedding",
        k = 10)
      graft.ext.Eval.recallAtK(approx, exact, "qid", "nid").count()
    }
    spark.stop()
  }
}
