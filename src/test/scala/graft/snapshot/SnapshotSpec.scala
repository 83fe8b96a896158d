package graft.snapshot

import java.time.LocalDate

import graft.SparkTestBase
import graft.time.TimeScope.Cron

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SchemaEvolutionSpec extends SparkTestBase {
  import SchemaEvolution._
  import spark.implicits._

  test("widening lattice") {
    assert(widen(LongType, IntegerType) == LongType)
    assert(widen(LongType, DoubleType) == DoubleType)
    assert(widen(LongType, DecimalType(18, 2)) == DecimalType(22, 2))
    assert(widen(StringType, LongType) == StringType)
    assert(widen(DateType, TimestampType) == TimestampType)
    assert(widen(TimestampType, LongType) == StringType)
    // commutative + idempotent
    val ts = Seq(LongType, DoubleType, StringType, DecimalType(10, 2), TimestampType)
    for (a <- ts; b <- ts) {
      assert(widen(a, b) == widen(b, a), s"$a/$b")
      assert(widen(a, a) == a)
    }
  }

  test("unionEvolve: null fill + widening") {
    val a = Seq((1L, "x")).toDF("k", "s")
    val b = Seq((2.5, "y", 9L)).toDF("k", "s", "extra")
    val u = unionEvolve(a, b)
    assert(u.schema("k").dataType == DoubleType)
    assert(u.schema("extra").dataType == LongType)
    val rows = u.orderBy("s").collect()
    assert(rows(0).getDouble(0) == 1.0 && rows(0).isNullAt(2))
    assert(rows(1).getDouble(0) == 2.5 && rows(1).getLong(2) == 9L)
  }

  test("evolution is append-order commutative on schemas (SURVEY §5.3)") {
    val s1 = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val s2 = StructType(Seq(StructField("a", DoubleType), StructField("c", LongType)))
    val s3 = StructType(Seq(StructField("b", StringType), StructField("c", DecimalType(30, 5))))
    val e1 = evolvedSchema(evolvedSchema(s1, s2), s3)
    val e2 = evolvedSchema(evolvedSchema(s1, s3), s2)
    assert(e1.fields.map(f => f.name -> f.dataType).toMap ==
      e2.fields.map(f => f.name -> f.dataType).toMap)
  }
}

class SnapshotSpec extends SparkTestBase {
  import spark.implicits._

  private def fixture(cron: Cron, sql: String, id: Long = 1) =
    SnapshotJob.Settings(Seq(SnapshotJob.FactConfig("f", cron,
      Seq(SnapshotJob.FactQuery(id, enabled = true, SnapshotJob.SqlSource(sql))))))

  private def freshWarehouse() = new Warehouse(spark,
    java.nio.file.Files.createTempDirectory("wh_test").toString)

  test("writer lease: second writer refused, TTL break, scoped release") {
    val wh = freshWarehouse()
    val t1 = wh.acquireWriterLease("f", holder = "job-a")
    // a live lease refuses a second writer, loudly and with the holder
    val e = intercept[IllegalStateException] {
      wh.acquireWriterLease("f", holder = "job-b")
    }
    assert(e.getMessage.contains("job-a"))
    // a DIFFERENT fact is independently lockable
    val other = wh.acquireWriterLease("g", holder = "job-b")
    wh.releaseWriterLease("g", other)
    // release with a wrong token is a no-op (ownership check)
    wh.releaseWriterLease("f", "not-the-token")
    intercept[IllegalStateException] {
      wh.acquireWriterLease("f", holder = "job-b")
    }
    wh.releaseWriterLease("f", t1)
    // released: next writer acquires
    val t2 = wh.acquireWriterLease("f", holder = "job-b")
    wh.releaseWriterLease("f", t2)
    // TTL break: a crashed writer's expired lock is broken by the next
    val crashed = wh.acquireWriterLease("f", holder = "dead", ttlMs = 1L)
    Thread.sleep(5)
    val t3 = wh.acquireWriterLease("f", holder = "next")
    // the dead writer's late release must NOT delete the new lock
    wh.releaseWriterLease("f", crashed)
    intercept[IllegalStateException] {
      wh.acquireWriterLease("f", holder = "third")
    }
    wh.releaseWriterLease("f", t3)
    // withWriterLease releases on exception
    intercept[RuntimeException] {
      wh.withWriterLease("f")(throw new RuntimeException("boom"))
    }
    val t4 = wh.acquireWriterLease("f")
    wh.releaseWriterLease("f", t4)
  }

  test("stale-lock break serializes: racing breakers cannot both acquire") {
    val wh = freshWarehouse()
    // N threads all observe the same expired lock and race the break.
    // The rename-based break admits exactly one winner; the losers must
    // throw, never delete the winner's fresh lock (the delete-then-create
    // break let breaker B's delete remove breaker A's new lock).
    wh.acquireWriterLease("f", holder = "dead", ttlMs = 1L)
    Thread.sleep(5)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val outcomes = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Either[Throwable, String]]())
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        gate.await()
        outcomes.add(
          try Right(wh.acquireWriterLease("f", holder = s"breaker-$i"))
          catch { case t: Throwable => Left(t) })
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val wins = outcomes.asScala.collect { case Right(tok) => tok }
    assert(wins.size == 1,
      s"exactly one breaker must win the stale lock, got ${wins.size}: " +
        outcomes.asScala.map {
          case Right(t) => s"WIN($t)"
          case Left(e) => s"${e.getClass.getSimpleName}(${e.getMessage})"
        }.mkString(" | "))
    outcomes.asScala.collect { case Left(t) => t }.foreach(t =>
      assert(t.isInstanceOf[IllegalStateException], s"unexpected: $t"))
    // the winner's lock survived every loser: a live second acquire fails
    intercept[IllegalStateException] { wh.acquireWriterLease("f") }
    wh.releaseWriterLease("f", wins.head)
    val after = wh.acquireWriterLease("f")
    wh.releaseWriterLease("f", after)
  }

  test("snapshot run holds the fact lease: a held lock refuses the job") {
    Seq((1, "x")).toDF("k", "v").createOrReplaceTempView("lease_src")
    val wh = freshWarehouse()
    val st = fixture(Cron.Daily, "SELECT k, v FROM lease_src")
    val tok = wh.acquireWriterLease("f", holder = "stuck-job")
    val e = intercept[IllegalStateException] {
      SnapshotJob.run(spark, st, wh, LocalDate.parse("2024-01-15"))
    }
    assert(e.getMessage.contains("stuck-job"))
    wh.releaseWriterLease("f", tok)
    // lease free: the job writes, and releases for the NEXT run (no-op)
    assert(SnapshotJob.run(spark, st, wh,
      LocalDate.parse("2024-01-15")) == Seq("f"))
    assert(SnapshotJob.run(spark, st, wh,
      LocalDate.parse("2024-01-15")) == Seq.empty) // idempotent re-run
  }

  test("daily fact: full scope injected; re-run is a no-op (S10)") {
    Seq((1, "x"), (2, "y")).toDF("k", "v").createOrReplaceTempView("src")
    val wh = freshWarehouse()
    val st = fixture(Cron.Daily, "SELECT k, v FROM src")
    val d = LocalDate.parse("2024-01-15")
    assert(SnapshotJob.run(spark, st, wh, d) == Seq("f"))
    assert(SnapshotJob.run(spark, st, wh, d) == Seq()) // idempotent
    val fact = wh.read("f").get
    assert(fact.count() == 2)
    val r = fact.select("queryId", "year", "month", "week", "day").distinct().collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 1 && r(0).getLong(1) == 2024 &&
      r(0).getLong(2) == 1 && r(0).getString(3) == "Y2024-W03" &&
      r(0).getLong(4) == 15)
  }

  test("monthly fact: gate + nullified fine scope; NULL-scope idempotency (ref bug fixed)") {
    Seq((1, "x")).toDF("k", "v").createOrReplaceTempView("src2")
    val wh = freshWarehouse()
    val st = fixture(Cron.Monthly, "SELECT k, v FROM src2")
    // mid-month: gate closed
    assert(SnapshotJob.run(spark, st, wh, LocalDate.parse("2024-01-15")).isEmpty)
    // month end: fires with week/day nulled
    val eom = LocalDate.parse("2024-01-31")
    assert(SnapshotJob.run(spark, st, wh, eom) == Seq("f"))
    val r = wh.read("f").get.select("year", "month", "week", "day").collect()(0)
    assert(r.getLong(0) == 2024 && r.getLong(1) == 1 && r.isNullAt(2) && r.isNullAt(3))
    // the reference's S10 bug: NULL scope fields broke dedup; ours must skip
    assert(SnapshotJob.run(spark, st, wh, eom).isEmpty)
    assert(wh.read("f").get.count() == 1)
  }

  test("@date substitution reaches the source query (S11)") {
    val wh = freshWarehouse()
    val st = fixture(Cron.Daily, "SELECT CAST(@date AS STRING) AS pivot")
    SnapshotJob.run(spark, st, wh, LocalDate.parse("2024-03-09"))
    assert(wh.read("f").get.select("pivot").as[String].collect().toSeq ==
      Seq("2024-03-09"))
  }

  test("script source: exec + JSON parse + date promotion (S2/S9)") {
    val script = java.nio.file.Files.createTempFile("emit", ".sh")
    java.nio.file.Files.writeString(script,
      "#!/bin/sh\necho '[{\"k\": 1, \"when\": \"2024-01-05 10:00:00\"}," +
        "{\"k\": 2, \"when\": \"2024-01-06 11:30:00\"}]'\n")
    script.toFile.setExecutable(true)
    val df = SnapshotJob.runScript(spark, script.toString,
      LocalDate.parse("2024-01-15"))
    assert(df.schema("k").dataType == LongType)
    assert(df.schema("when").dataType == TimestampType) // date-sniff promoted
    assert(df.count() == 2)
  }

  test("schema evolution on append: new column + type widening (S7)") {
    val wh = freshWarehouse()
    Seq((1L, 10L)).toDF("k", "m").createOrReplaceTempView("ev_src1")
    Seq((2L, 3.5, "n")).toDF("k", "m", "extra").createOrReplaceTempView("ev_src2")
    val d1 = LocalDate.parse("2024-01-15")
    SnapshotJob.run(spark, fixture(Cron.Daily, "SELECT * FROM ev_src1"), wh, d1)
    SnapshotJob.run(spark, fixture(Cron.Daily, "SELECT * FROM ev_src2"), wh,
      LocalDate.parse("2024-01-16"))
    val fact = wh.read("f").get
    assert(fact.count() == 2)
    assert(fact.schema("m").dataType == DoubleType) // widened long->double
    assert(fact.filter(col("extra").isNull).count() == 1) // null-filled
  }

  test("source query emitting a reserved time-scope column is rejected") {
    Seq((1, 2024)).toDF("k", "year").createOrReplaceTempView("clash_src")
    val wh = freshWarehouse()
    val e = intercept[IllegalArgumentException] {
      SnapshotJob.run(spark, fixture(Cron.Daily, "SELECT * FROM clash_src"),
        wh, LocalDate.parse("2024-01-15"))
    }
    assert(e.getMessage.contains("year"))
  }

  test("direct append of a type-widened all-nullable batch routes to rewrite") {
    // regression: the widening-superset fast path used to accept a batch
    // whose shared column TYPE changed (long -> double), appending files
    // the table schema could not reconcile
    val wh = freshWarehouse()
    val a = Seq((1L, 10L)).toDF("k", "m").withColumn("year", lit(2024L))
    wh.append("f", a)
    val b = Seq((2L, 3.5)).toDF("k", "m").withColumn("year", lit(2024L))
    val bNullable = spark.createDataFrame(b.rdd,
      StructType(b.schema.fields.map(_.copy(nullable = true))))
    wh.append("f", bNullable)
    val fact = wh.read("f").get // must stay readable
    assert(fact.count() == 2)
    assert(fact.schema("m").dataType == DoubleType)
    assert(fact.select(sum(col("m"))).collect()(0).getDouble(0) == 13.5)
  }

  test("authoritative schema is persisted; reads bind to it without footer merging") {
    val wh = freshWarehouse()
    wh.append("f", Seq((1L, 10L)).toDF("k", "m").withColumn("year", lit(2024L)))
    wh.append("f", Seq((2L, 20L, "x")).toDF("k", "m", "extra")
      .withColumn("year", lit(2025L)))
    val stored = wh.storedSchema("f").get
    val fact = wh.read("f").get
    // the read schema IS the stored one (explicit bind, no mergeSchema)
    assert(fact.schema == stored)
    assert(stored.fieldNames.contains("extra"))
    assert(stored("year").dataType == LongType) // partition col keeps long
    // pre-evolution file null-fills the new column under the stored schema
    assert(fact.filter(col("extra").isNull).count() == 1)
    assert(fact.count() == 2)
  }

  test("schema swap is atomic: a reader looping read(fact).schema during " +
      "30 appends sees no error") {
    val wh = freshWarehouse()
    def batch(i: Long) = Seq((i, s"r$i")).toDF("k", "s").withColumn("year", lit(2024L))
    wh.append("f", batch(0))
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() =>
      while (!done.get) {
        try { wh.read("f").get.schema; reads.incrementAndGet() }
        catch { case e: Throwable => errors.add(e) }
      })
    reader.start()
    try (1L to 30L).foreach(i => wh.append("f", batch(i)))
    finally { done.set(true); reader.join() }
    assert(errors.isEmpty, s"${errors.size} failed reads, first: ${errors.peek()}")
    assert(reads.get > 30, s"only ${reads.get} reads overlapped the appends")
    assert(wh.read("f").get.count() == 31)
    // every staged metadata file was swapped in, none left behind
    assert(!new java.io.File(wh.root, "f").list().exists(_.endsWith(".tmp")))
  }

  test("compat mode reproduces the reference's decimal->int truncation quirk") {
    spark.sql("SELECT CAST(12.75 AS DECIMAL(10,2)) AS amount")
      .createOrReplaceTempView("dec_src")
    val whFixed = freshWarehouse()
    SnapshotJob.run(spark, fixture(Cron.Daily, "SELECT * FROM dec_src"),
      whFixed, LocalDate.parse("2024-01-15"))
    assert(whFixed.read("f").get.schema("amount").dataType ==
      DecimalType(10, 2)) // default: decimals preserved (ref quirk fixed)
    val whCompat = freshWarehouse()
    SnapshotJob.run(spark, fixture(Cron.Daily, "SELECT * FROM dec_src"),
      whCompat, LocalDate.parse("2024-01-15"), compat = true)
    val r = whCompat.read("f").get
    assert(r.schema("amount").dataType == LongType)
    assert(r.select("amount").collect()(0).getLong(0) == 12L) // truncated
  }

  test("property: re-running any prefix of a snapshot sequence is a no-op (§5.3)") {
    Seq((1, "x"), (2, "y")).toDF("k", "v").createOrReplaceTempView("seq_src")
    val wh = freshWarehouse()
    val st = fixture(Cron.Daily, "SELECT * FROM seq_src")
    val rnd = new scala.util.Random(99)
    val dates = (10 to 19).map(d => LocalDate.parse(f"2024-03-$d%02d"))
    dates.foreach(d => SnapshotJob.run(spark, st, wh, d))
    val baseline = wh.read("f").get.count()
    assert(baseline == 20) // 10 days x 2 rows
    // replay a random shuffle of a random prefix; nothing may change
    (1 to 3).foreach { _ =>
      rnd.shuffle(dates.take(1 + rnd.nextInt(dates.size)).toList)
        .foreach(d => SnapshotJob.run(spark, st, wh, d))
      assert(wh.read("f").get.count() == baseline)
    }
  }

  test("disabled queries never run") {
    val wh = freshWarehouse()
    val st = SnapshotJob.Settings(Seq(SnapshotJob.FactConfig("f", Cron.Daily,
      Seq(SnapshotJob.FactQuery(1, enabled = false,
        SnapshotJob.SqlSource("SELECT 1 AS one"))))))
    assert(SnapshotJob.run(spark, st, wh, LocalDate.parse("2024-01-15")).isEmpty)
    assert(wh.read("f").isEmpty)
  }
}

class MergeSpec extends graft.SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def freshWh() =
    new Warehouse(spark, graft.TempDirs.scratchDir("merge_wh").toString)

  test("merge: updates replace by key, inserts append, other partitions untouched") {
    val wh = freshWh()
    wh.append("m", Seq((1L, "a", 10.0, 2023L), (2L, "b", 20.0, 2023L),
      (3L, "c", 30.0, 2024L)).toDF("k", "v", "x", "year"))
    def files2023 = new java.io.File(wh.root, "m/year=2023").list().toSet
    val before2023 = files2023
    // update k=3, insert k=4 (both year 2024) + new partition 2025
    wh.merge("m", Seq((3L, "c2", 33.0, 2024L), (4L, "d", 40.0, 2024L),
      (5L, "e", 50.0, 2025L)).toDF("k", "v", "x", "year"), Seq("k"))
    val got = wh.read("m").get.select("k", "v", "x", "year")
      .as[(Long, String, Double, Long)].collect().toSet
    assert(got == Set((1L, "a", 10.0, 2023L), (2L, "b", 20.0, 2023L),
      (3L, "c2", 33.0, 2024L), (4L, "d", 40.0, 2024L), (5L, "e", 50.0, 2025L)))
    // partition-scoped: the 2023 files were not rewritten
    assert(files2023 == before2023)
  }

  test("merge into absent fact behaves as append") {
    val wh = freshWh()
    wh.merge("m0", Seq((1L, "a", 2024L)).toDF("k", "v", "year"), Seq("k"))
    assert(wh.read("m0").get.count() == 1)
  }

  test("merge is idempotent (same batch twice)") {
    val wh = freshWh()
    wh.append("mi", Seq((1L, "a", 2024L), (2L, "b", 2024L)).toDF("k", "v", "year"))
    val batch = Seq((2L, "b2", 2024L), (3L, "c", 2024L)).toDF("k", "v", "year")
    wh.merge("mi", batch, Seq("k"))
    wh.merge("mi", batch, Seq("k"))
    val got = wh.read("mi").get.select("k", "v").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("merge rejects a key that would move between year partitions") {
    val wh = freshWh()
    wh.append("mk", Seq((1L, "a", 2023L)).toDF("k", "v", "year"))
    val moved = Seq((1L, "a-moved", 2024L)).toDF("k", "v", "year")
    val e = intercept[IllegalArgumentException](wh.merge("mk", moved, Seq("k")))
    assert(e.getMessage.contains("must determine year"))
    // the guard is advisory at scale: disabling it performs the merge
    wh.merge("mk", moved, Seq("k"), validateKeys = false)
    assert(wh.read("mk").get.count() == 2) // documented hazard: stale row lives
  }

  test("merge with a type-widened column rewrites the whole fact (stays readable)") {
    val wh = freshWh()
    wh.append("mt", Seq((1L, 10L, 2023L), (2L, 20L, 2024L)).toDF("k", "x", "year"))
    // x widens long -> double; the 2023 partition is NOT in the batch, so
    // a partition-scoped swap would leave old-physical-type files behind a
    // widened stored schema and break the read
    wh.merge("mt", Seq((2L, 2.5, 2024L)).toDF("k", "x", "year"), Seq("k"))
    val got = wh.read("mt").get.select("k", "x", "year")
      .as[(Long, Double, Long)].collect().toSet
    assert(got == Set((1L, 10.0, 2023L), (2L, 2.5, 2024L)))
  }

  test("merge never stages displaced partitions inside the fact directory") {
    val wh = freshWh()
    wh.append("ms", Seq((1L, "a", 2024L)).toDF("k", "v", "year"))
    wh.merge("ms", Seq((1L, "a2", 2024L)).toDF("k", "v", "year"), Seq("k"))
    // nothing named *.old (or any non-partition dir) may remain under the
    // fact dir where the read glob would pick it up as year=null rows
    val entries = new java.io.File(wh.root, "ms").list().toSet
    // underscore/dot prefixes are invisible to Spark's file index
    assert(entries.forall(e => e.startsWith("year=") && !e.endsWith(".old")
      || e.startsWith("_") || e.startsWith(".")), s"unexpected entries: $entries")
    assert(wh.read("ms").get.filter(col("year").isNull).count() == 0)
  }

  test("merge batch can add a nullable column (evolution discipline)") {
    val wh = freshWh()
    wh.append("me", Seq((1L, "a", 2024L)).toDF("k", "v", "year"))
    wh.merge("me", Seq((1L, "a2", 7L, 2024L)).toDF("k", "v", "extra", "year"), Seq("k"))
    val got = wh.read("me").get.select("k", "v", "extra")
      .as[(Long, String, Option[Long])].collect().toSet
    assert(got == Set((1L, "a2", Some(7L))))
  }
}

class VacuumSpec extends graft.SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def freshWh() =
    new Warehouse(spark, graft.TempDirs.scratchDir("vac_wh").toString)

  private def mv(wh: Warehouse, from: String, to: String): Unit =
    assert(new java.io.File(wh.root, from).renameTo(new java.io.File(wh.root, to)))

  test("vacuum completes a rewrite crashed between the two renames") {
    val wh = freshWh()
    wh.append("v", Seq((1L, 2024L)).toDF("k", "year"))
    // simulate replaceWith crashing after staging out the live dir: the
    // complete rewrite sits in .tmp, the original in .old, no live fact
    mv(wh, "v", "v.tmp")
    val f = new java.io.File(wh.root, "v.old"); f.mkdirs()
    assert(wh.read("v").isEmpty)
    wh.vacuum("v")
    assert(wh.read("v").get.select("k").as[Long].collect().toSeq == Seq(1L))
    assert(!new java.io.File(wh.root, "v.tmp").exists())
    assert(!new java.io.File(wh.root, "v.old").exists())
  }

  test("vacuum rolls back to the original when no staged rewrite exists") {
    val wh = freshWh()
    wh.append("vr", Seq((2L, 2024L)).toDF("k", "year"))
    mv(wh, "vr", "vr.old")
    wh.vacuum("vr")
    assert(wh.read("vr").get.select("k").as[Long].collect().toSeq == Seq(2L))
  }

  test("vacuum restores partitions displaced by a crashed merge") {
    val wh = freshWh()
    wh.append("vm", Seq((1L, "a", 2023L), (2L, "b", 2024L)).toDF("k", "v", "year"))
    // simulate a merge crash after renaming year=2023 out but before the
    // merged copy swapped in
    new java.io.File(wh.root, "vm.merge.old").mkdirs()
    mv(wh, "vm/year=2023", "vm.merge.old/year=2023")
    assert(wh.read("vm").get.count() == 1)
    wh.vacuum("vm")
    val got = wh.read("vm").get.select("k", "v").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b")))
    assert(!new java.io.File(wh.root, "vm.merge.old").exists())
  }

  test("vacuum is a no-op on a healthy fact") {
    val wh = freshWh()
    wh.append("vh", Seq((1L, 2024L)).toDF("k", "year"))
    wh.vacuum("vh")
    assert(wh.read("vh").get.count() == 1)
  }
}

class RetentionSpec extends graft.SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("dropPartitions removes only the named years; drop removes the fact") {
    val wh = new Warehouse(spark, graft.TempDirs.scratchDir("ret_wh").toString)
    wh.append("r", Seq((1L, 2022L), (2L, 2023L), (3L, 2024L)).toDF("k", "year"))
    wh.dropPartitions("r", Seq(2022L, 2023L))
    val got = wh.read("r").get.select("k", "year").as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 2024L)))
    wh.drop("r")
    assert(wh.read("r").isEmpty)
  }
}
