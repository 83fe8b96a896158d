package graft.snapshot

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileStatus, FileSystem, Options, Path}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet-backed fact-table catalog: one directory per fact under `root`,
  * partitioned by `year` so date cuts prune files at the source
  * (SURVEY.md §4 "Snapshot pruning"; the reference's implicit
  * (queryId, year, month, week, day) keying, OLAP.php:166-175).
  *
  * Every fact has one commit log, `_log/_<v>.json`. Version `v` is a FULL
  * snapshot of the fact: its schema, every live data file as (path under
  * the fact dir, `year`, size, mtime) and, for an erasure, the files it
  * erased — so a reader opens one version and replays nothing. Every
  * mutation writes its data files under fresh names (Spark writes into a
  * `_staging/` dir and the files are renamed into `year=Y/`), then commits
  * `v + 1` by creating its file with create-no-overwrite. Every read
  * resolves the newest version (or a tag's) and scans exactly its files: no
  * data directory is listed, so a reader sees a whole batch or none of it,
  * and a crash before the commit changes nothing a reader can see. Files a
  * commit drops are deleted right after it unless a tag's version still
  * references them; [[vacuum]] collects whatever else a crash leaves.
  *
  * All filesystem operations go through the Hadoop FileSystem API, so the
  * root may live on HDFS or the local disk. Stores without an atomic
  * create-no-overwrite (S3 before conditional PUT) are unsupported: two
  * writers could both commit the same version there.
  *
  * Appends only add files. A widening schema change (the reference's
  * `CHANGE COLUMN`, S7) triggers a one-off rewrite since parquet files are
  * immutable; new nullable columns need none: the version carries the
  * evolved schema, reads bind to it directly, and older files null-fill
  * the missing columns.
  */
final class Warehouse(spark: SparkSession, val root: String) extends FactStore {
  import Warehouse.{Entry, LogFileIndex, Version, mapper}

  private def path(fact: String) = new Path(root, fact)

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True when the fact has a committed version. */
  def exists(fact: String): Boolean = latest(fact).nonEmpty

  private def readText(at: Path): String = {
    val in = fs.open(at)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Replace a small metadata file (a tag, `_stats.json`, `_bloom.json`)
    * in one step, so a concurrent reader opens either the old bytes or the
    * new ones — never an empty or half-written file. The bytes are staged
    * in a `_`-prefixed temp file beside the target and renamed over it.
    *
    * On a checksummed store (the local FS) the file goes through the raw
    * store with no `.crc` sidecar: the checksummed rename moves data and
    * sidecar in two steps, and a reader pairing new bytes with the old
    * sidecar fails its checksum. An absent sidecar skips verification, so
    * an old one is dropped before the swap. Stores whose plain rename
    * refuses an existing target (HDFS) replace it with FileContext's
    * OVERWRITE rename; a rename that still fails throws. */
  private def writeMeta(at: Path, body: String): Unit = {
    val (f, sidecar) = fs match {
      case c: ChecksumFileSystem => (c.getRawFileSystem, Some(c.getChecksumFile(at)))
      case other => (other, None)
    }
    val tmp = new Path(at.getParent,
      s"_${at.getName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      val out = f.create(tmp, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      sidecar.foreach(f.delete(_, false))
      if (!f.rename(tmp, at))
        FileContext.getFileContext(f.getUri, f.getConf)
          .rename(tmp, at, Options.Rename.OVERWRITE)
    } catch {
      case e: java.io.IOException =>
        f.delete(tmp, false)
        throw new java.io.IOException(s"could not replace $at", e)
    }
  }

  /** Create `at` holding `body`, atomic in existence AND content; false
    * when `at` already exists. The one primitive under both the writer
    * lease and the log commit. On the LOCAL filesystem Hadoop's
    * create(overwrite=false) is check-then-act (two racers can both pass
    * its exists() test) and the file is readable EMPTY before the write
    * lands — so the body goes to a unique temp file that is HARD-LINKED
    * into place: link(2) is atomic, fails if the destination exists, and
    * the content is complete at link time. Elsewhere the body is staged
    * beside the target and renamed in, which needs a store whose rename
    * refuses an existing target atomically (HDFS). */
  private def createExclusive(at: Path, body: Array[Byte]): Boolean = {
    val f = fs
    val tmpName = s".${at.getName}.${java.util.UUID.randomUUID()}.tmp"
    if (f.getScheme == "file") {
      val dst = java.nio.file.Paths.get(at.toUri.getPath)
      val tmp = dst.resolveSibling(tmpName)
      try {
        java.nio.file.Files.write(tmp, body)
        java.nio.file.Files.createLink(dst, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally {
        try java.nio.file.Files.deleteIfExists(tmp)
        catch { case _: java.io.IOException => () }
      }
    } else {
      val tmp = new Path(at.getParent, tmpName)
      val out = f.create(tmp, false)
      try out.write(body) finally out.close()
      try !f.exists(at) && f.rename(tmp, at)
      finally if (f.exists(tmp)) f.delete(tmp, false)
    }
  }

  // ---------------- single-writer lease ----------------

  private def lockPath(fact: String) = new Path(root, s"_locks/$fact.lock")

  /** Acquire the exclusive writer lease for `fact`, or throw if another
    * live writer holds it. A commit of a version another writer already
    * committed throws, and two concurrent snapshot jobs on the same fact
    * can interleave their read-check/append pairs — this lease makes the
    * single-writer assumption ENFORCED, not implicit. Mechanics: atomic
    * create-no-overwrite of a lock file (the same FS primitive every
    * store backing the warehouse provides) holding (holder, token,
    * acquiredAtMs, ttlMs). A lock past its TTL is presumed dead
    * (crashed writer — [[releaseWriterLease]] never ran) and is broken
    * once — under a SINGLE-ADMISSION break intent keyed by the stale
    * lock's token (atomic create-no-overwrite): exactly one of N
    * contenders may touch the lock path, it re-verifies the lock still
    * carries the stale token before grabbing it by rename, and a
    * crashed breaker's orphan intent expires after 60 s. (Both naive
    * forms fail: delete-then-create lets breaker B's delete remove
    * breaker A's new lock; unadmitted rename-grab can seize a FRESH
    * lock that replaced the stale one — each admits two concurrent
    * writers, and the 8-thread race spec caught both.) Returns the token
    * that [[releaseWriterLease]] requires (release verifies ownership —
    * a writer that lost its lease to a TTL break cannot delete the next
    * holder's lock). */
  def acquireWriterLease(fact: String, holder: String = "writer",
      ttlMs: Long = 15 * 60 * 1000L): String = {
    require(ttlMs > 0, s"ttlMs=$ttlMs must be positive")
    val f = fs
    val lp = lockPath(fact)
    f.mkdirs(lp.getParent)
    val token = java.util.UUID.randomUUID().toString
    def lockBody(): Array[Byte] =
      (s"""{"holder": ${graft.olap.Renderer.jsonString(holder)}, """ +
        s""""token": "$token", "acquired_at_ms": ${System.currentTimeMillis()}, """ +
        s""""ttl_ms": $ttlMs}""").getBytes("UTF-8")
    // atomic in existence and content, on every store ([[createExclusive]])
    def tryCreate(): Boolean =
      try createExclusive(lp, lockBody())
      catch { case _: java.io.IOException => false }
    if (tryCreate()) return token
    // contended: break the lock ONLY if its TTL has expired
    val existing = readLock(fact)
    existing match {
      case Some((h, staleToken, at, ttl))
          if System.currentTimeMillis() - at > ttl =>
        // Break protocol: SINGLE-ADMISSION per stale lock. A breaker
        // must first atomically create a break-intent file keyed by the
        // STALE token — of N contenders observing the same expired
        // lock, exactly one holds the intent, so no two breakers ever
        // act on the lock path concurrently (a rename-grab without
        // admission could seize a FRESH lock that replaced the stale
        // one, and its restore could be preempted — the two-writer race
        // the 8-thread spec reproduced). The intent holder re-verifies
        // lp still carries the stale token, grabs it by rename, final-
        // verifies the grabbed bytes, then creates its own lock; the
        // intent is removed in a finally. A crashed breaker's orphan
        // intent expires after 60 s. Residual (documented TTL
        // contract): a writer past its TTL must not act — its late
        // release inside the verify→rename window is the one
        // interleaving no CAS-free filesystem protocol can close.
        val intent = new Path(lp.getParent, s"$fact.lock.break.$staleToken")
        def tryRename(src: Path, dst: Path): Boolean =
          try f.rename(src, dst) // local rename THROWS FNF when src is
          catch { case _: java.io.IOException => false } // gone
        def intentCreate(): Boolean =
          try {
            val out = f.create(intent, false)
            try out.write(System.currentTimeMillis().toString
              .getBytes("UTF-8")) finally out.close()
            true
          } catch { case _: java.io.IOException => false }
        if (!intentCreate()) {
          // someone else is breaking this stale lock — or crashed
          // mid-break: expire their intent after 60 s so the fact can
          // never deadlock on an orphan
          val age = try {
            val in = f.open(intent)
            val t = try new String(in.readAllBytes(), "UTF-8").trim.toLong
            finally in.close()
            System.currentTimeMillis() - t
          } catch { case _: java.io.IOException | _: RuntimeException => 0L }
          if (age > 60000L) f.delete(intent, false)
          throw new IllegalStateException(
            s"fact '$fact' stale writer lease is being broken by a " +
              "concurrent contender; retry")
        }
        try {
          // admission held: re-verify the lock is STILL the stale one
          if (!readLock(fact).exists(_._2 == staleToken))
            throw new IllegalStateException(
              s"fact '$fact' writer lease was re-acquired by a " +
                "concurrent writer while breaking the stale lock; retry")
          val breakTag = new Path(lp.getParent, s"$fact.lock.breaking.$token")
          if (!tryRename(lp, breakTag))
            throw new IllegalStateException(
              s"fact '$fact' stale writer lease vanished while breaking " +
                "it; retry")
          if (!readLockAt(breakTag).exists(_._2 == staleToken)) {
            // double-fault path (late release + instant re-acquire):
            // hand the grabbed lock back
            if (!tryRename(breakTag, lp)) f.delete(breakTag, false)
            throw new IllegalStateException(
              s"fact '$fact' writer lease was re-acquired by a " +
                "concurrent writer while breaking the stale lock; retry")
          }
          f.delete(breakTag, false)
          if (tryCreate()) token
          else throw new IllegalStateException(
            s"fact '$fact' writer lease lost to a concurrent writer " +
              "after breaking a stale lock")
        } finally f.delete(intent, false)
      case Some((h, _, at, _)) =>
        throw new IllegalStateException(
          s"fact '$fact' is locked by writer '$h' since epoch-ms $at; " +
            "wait for it, or break the lock by deleting " + lp)
      case None => // holder released between our create and read: retry once
        if (tryCreate()) token
        else throw new IllegalStateException(
          s"fact '$fact' writer lease contended; retry")
    }
  }

  /** (holder, token, acquiredAtMs, ttlMs) of the current lock, if any. */
  private def readLock(fact: String): Option[(String, String, Long, Long)] =
    readLockAt(lockPath(fact))

  private def readLockAt(lp: Path): Option[(String, String, Long, Long)] =
    try {
      val in = fs.open(lp)
      val txt = try new String(
        in.readAllBytes(), "UTF-8") finally in.close()
      def field(k: String): String =
        txt.split("\"" + k + "\":", 2)(1).split("[,}]")(0).trim
          .stripPrefix("\"").stripSuffix("\"")
      try Some((field("holder"), field("token"),
        field("acquired_at_ms").toLong, field("ttl_ms").toLong))
      catch { case _: RuntimeException =>
        // the file EXISTS but doesn't parse: a remote-FS writer between
        // create and close (local creates are content-atomic via the
        // hard-link path). Report it as a LIVE lock held by an unknown
        // writer — never as absent, and never TTL-breakable (unmatched
        // token makes release/verify no-ops)
        Some(("(mid-write)", "", System.currentTimeMillis(), Long.MaxValue))
      }
    } catch { case _: java.io.IOException => None }

  /** Release the lease if `token` still owns it (a TTL-broken writer
    * must not delete its successor's lock). */
  def releaseWriterLease(fact: String, token: String): Unit =
    if (readLock(fact).exists(_._2 == token))
      fs.delete(lockPath(fact), false)

  /** Run `body` under the fact's exclusive writer lease. */
  def withWriterLease[T](fact: String, holder: String = "writer",
      ttlMs: Long = 15 * 60 * 1000L)(body: => T): T = {
    val token = acquireWriterLease(fact, holder, ttlMs)
    try body finally releaseWriterLease(fact, token)
  }

  // ---------------- commit log ----------------

  private def logDir(fact: String) = new Path(path(fact), "_log")
  private def versionPath(fact: String, v: Long) = new Path(logDir(fact), s"_$v.json")
  private val VersionFile = "_(\\d+)\\.json".r

  /** Committed version numbers, ascending; None when the fact has no log. */
  private def versions(fact: String): Option[Seq[Long]] =
    try Some(fs.listStatus(logDir(fact)).toSeq.map(_.getPath.getName)
      .collect { case VersionFile(v) => v.toLong }.sorted)
    catch { case _: java.io.FileNotFoundException => None }

  private def readVersion(fact: String, v: Long): Version =
    Warehouse.parseVersion(v, readText(versionPath(fact, v)))

  /** The newest committed version; None for an absent fact. A directory
    * holding data but no log was written by an older build: reading or
    * mutating it throws until [[vacuum]] adopts it. */
  private def latest(fact: String): Option[Version] = versions(fact) match {
    case Some(vs) => vs.lastOption.map(readVersion(fact, _))
    case None =>
      if (fs.exists(path(fact)) && dataFilesUnder(path(fact)).nonEmpty)
        throw new IllegalStateException(s"${path(fact)} holds data but no " +
          s"_log: an older build wrote it; run vacuum(\"$fact\") to adopt it")
      None
  }

  /** Entries for the data files in the `year=` dirs under `dir` (a listing:
    * for writes and [[vacuum]], never for reads). */
  private def dataFilesUnder(dir: Path): Seq[Entry] = {
    val f = fs
    f.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("year="))
      .flatMap { d =>
        val y = d.getPath.getName
        f.listStatus(d.getPath).toSeq
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .map(st => Entry(s"$y/${st.getPath.getName}", Warehouse.yearOf(y),
            st.getLen, st.getModificationTime))
      }
  }

  /** Write `df` as new data files of `fact`. Spark writes them into a fresh
    * `_staging/` dir, and each is renamed into its `year=Y/` dir under its
    * job-unique name. No version references them until the caller commits
    * one, so a crash anywhere in here leaves every read unchanged. */
  private def writeFiles(fact: String, df: DataFrame,
      opts: Map[String, String] = Map.empty): Seq[Entry] = {
    val f = fs
    f.mkdirs(logDir(fact)) // marks the dir as log-managed before data lands
    val staging = new Path(path(fact), s"_staging/${java.util.UUID.randomUUID()}")
    df.write.partitionBy("year").options(opts).parquet(staging.toString)
    val added = dataFilesUnder(staging)
    added.map(_.rel.takeWhile(_ != '/')).distinct
      .foreach(d => f.mkdirs(new Path(path(fact), d)))
    added.foreach { e =>
      if (!f.rename(new Path(staging, e.rel), new Path(path(fact), e.rel)))
        throw new java.io.IOException(s"could not move ${e.rel} out of $staging")
    }
    f.delete(staging, true)
    added
  }

  /** Commit `files` as the version after `base` (version 0 for a new
    * fact). Creating the version file is the commit point; it is
    * create-no-overwrite, and a version someone else committed first
    * throws (no retry: writers hold the writer lease). Then the files
    * `base` had and this version dropped are deleted, except those a
    * tag's version still references — `erased` files go even then. */
  private def commit(fact: String, base: Option[Version], schema: StructType,
      files: Seq[Entry], erased: Seq[String] = Nil): Unit = {
    val v = base.fold(0L)(_.v + 1)
    // all-nullable (appends may null-fill any column), `year` last: the
    // scan emits partition columns last, so reads equal the stored schema
    val (data, part) = schema.fields.map(_.copy(nullable = true))
      .partition(_.name != "year")
    val next = Version(v, StructType(data ++ part), files, erased)
    fs.mkdirs(logDir(fact))
    if (!createExclusive(versionPath(fact, v), next.json.getBytes("UTF-8")))
      throw new IllegalStateException(
        s"fact '$fact': version $v was committed by another writer")
    val live = files.map(_.rel).toSet
    val dropped = base.toSeq.flatMap(_.files.map(_.rel)).filterNot(live)
    val pinned = if (dropped.isEmpty) Set.empty[String]
      else taggedFiles(fact).map(_.rel).toSet
    deleteFiles(fact, (dropped.filterNot(pinned) ++ erased).distinct, live)
  }

  private def taggedFiles(fact: String): Seq[Entry] =
    taggedVersions(fact).toSeq.flatMap(readVersion(fact, _).files)

  /** Delete data files (paths under the fact dir), then each `year=` dir
    * they leave empty that no `live` file sits in. */
  private def deleteFiles(fact: String, rels: Seq[String], live: Set[String]): Unit = {
    val f = fs
    rels.foreach(rel => f.delete(new Path(path(fact), rel), false))
    val liveDirs = live.map(_.takeWhile(_ != '/'))
    rels.map(_.takeWhile(_ != '/')).distinct.filterNot(liveDirs).foreach { d =>
      val dir = new Path(path(fact), d)
      if (f.exists(dir) && f.listStatus(dir).isEmpty) f.delete(dir, false)
    }
  }

  /** The fact as of one version: a relation over exactly `files`. Its file
    * index is fed by the entries, so building it lists no directory and
    * starts no Spark job whatever the file count (`parquet(files: _*)`
    * lists them with a distributed job above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths). */
  private def relation(fact: String, schema: StructType, files: Seq[Entry]): DataFrame = {
    val base = fs.makeQualified(path(fact))
    val part = StructType(schema.filter(_.name == "year"))
    val index = new LogFileIndex(spark, base, part, files.map { e =>
      (new FileStatus(e.size, false, 0, 0, e.mtime, new Path(base, e.rel)), e.year)
    })
    spark.baseRelationToDataFrame(HadoopFsRelation(index, part,
      StructType(schema.filterNot(_.name == "year")), None,
      new ParquetFileFormat, Map.empty)(spark))
  }

  private def scan(fact: String, v: Version): DataFrame = relation(fact, v.schema, v.files)

  /** Schema of the fact's newest version. */
  def storedSchema(fact: String): Option[StructType] = latest(fact).map(_.schema)

  def read(fact: String): Option[DataFrame] = latest(fact).map(scan(fact, _))

  /** Replace the fact's content wholesale (streaming complete-mode sink:
    * each epoch is the full recomputed state, last epoch wins — idempotent
    * by construction under micro-batch retries). One commit: readers see
    * the old content or the new, never a missing or partial table. */
  def overwrite(fact: String, batch: DataFrame): Unit =
    rewrite(fact, latest(fact), batch)

  /** Export a fact for downstream consumers — the interchange leg of
    * the sink family (reference S12/S13 render JSON/table views of
    * query RESULTS; this exports the stored fact itself). `orc`
    * preserves the full type lattice (DECIMAL precision, DATE,
    * TIMESTAMP — proven by the x_orc_source round trip), `parquet`
    * likewise; `csv`/`json` degrade temporal/decimal types to text
    * (their format's nature — re-ingestion goes through the S9
    * inference path). One distributed write, no driver
    * materialization; partitioning follows the read (year-partitioned
    * facts export year-partitioned parallelism). */
  def export(fact: String, dir: String, format: String = "orc",
      options: Map[String, String] = Map.empty,
      columns: Seq[String] = Nil): Unit = {
    val df = read(fact).getOrElse(
      throw new IllegalArgumentException(s"unknown fact '$fact'"))
    // `columns` prunes internal fields for interchange — e.g. dropping
    // the reserved time-scope columns so the export can round-trip
    // through the S9 ingestion path (withTimeFields rejects reserved
    // names loudly)
    val pruned = if (columns.isEmpty) df else df.select(columns.map(col): _*)
    pruned.write.mode(SaveMode.Overwrite).format(format).options(options)
      .save(dir)
  }

  /** Append a batch, evolving the stored schema when needed (S5/S6/S7). */
  def append(fact: String, batch: DataFrame): Unit = latest(fact) match {
    case None => commit(fact, None, batch.schema, writeFiles(fact, batch))
    case Some(v) =>
      val existing = scan(fact, v)
      val evolved = SchemaEvolution.evolvedSchema(existing.schema, batch.schema)
      val sharedTypesIdentical = existing.schema.fields.forall { f =>
        batch.schema.fieldNames.find(_ == f.name)
          .forall(n => batch.schema(n).dataType == f.dataType)
      }
      if (evolved == existing.schema) {
        // no widening needed: align the batch to the stored schema
        val aligned = SchemaEvolution.unionEvolve(existing.limit(0), batch)
        commit(fact, Some(v), evolved, v.files ++ writeFiles(fact, aligned))
      } else if (sharedTypesIdentical
          && existing.schema.fieldNames.forall(batch.schema.fieldNames.contains)) {
        // batch only ADDS nullable columns (shared column types identical —
        // a type-widened superset must NOT land here: mixed physical types
        // across files can make the table unreadable): append as-is, older
        // files null-fill the new columns at read time
        commit(fact, Some(v), evolved, v.files ++ writeFiles(fact, batch))
      } else {
        // type change: one-off rewrite (ref S7 CHANGE COLUMN analog)
        rewrite(fact, Some(v), SchemaEvolution.unionEvolve(existing, batch))
      }
  }

  /** Upsert by business key: batch rows replace existing rows sharing the
    * same `keys`; unmatched batch rows insert. The daily-corrections
    * operation the reference's append-only model cannot express (its only
    * guard is the whole-scope idempotency probe, OLAP.php:166-175).
    *
    * PARTITION-SCOPED: only the `year` partitions present in the batch
    * are read, merged and rewritten; one commit swaps their files, so
    * readers never observe a partial or doubled partition. A shared-column
    * TYPE change disables the fast path: widened types cannot coexist with
    * untouched partitions' old physical files, so that case rewrites the
    * whole fact (same rule as append).
    *
    * Contract: `keys` must determine `year` (a key cannot move between
    * year partitions — true for any date-scoped fact key, e.g. the
    * reference's (queryId, time-scope)); a violation would leave the
    * stale row alive in its old partition. `validateKeys` scans the
    * untouched partitions' key columns to reject violations — keep it on
    * until the key contract is established, then disable at warehouse
    * scale where that scan is the only non-partition-scoped cost here. */
  def merge(fact: String, batch: DataFrame, keys: Seq[String],
      validateKeys: Boolean = true): Unit = {
    require(keys.nonEmpty, "merge needs at least one key column")
    latest(fact) match {
      case None => append(fact, batch)
      case Some(v) =>
        val existing = scan(fact, v)
        // bounded collect: one value per touched partition, never data rows
        val years = batch.select(col("year").cast("long")).distinct()
          .collect().map(_.getLong(0))
        if (validateKeys) {
          val stale = existing.filter(!col("year").isin(years: _*))
            .join(batch.select(keys.map(col): _*).distinct(), keys)
          require(stale.isEmpty,
            s"merge keys exist outside the batch's year partitions " +
              s"(${years.mkString(", ")}): keys must determine year")
        }
        val affected = existing.filter(col("year").isin(years: _*))
        val kept = affected.join(batch.select(keys.map(col): _*), keys, "left_anti")
        val merged = SchemaEvolution.unionEvolve(kept, batch)
        val typeChanged = existing.schema.fields.exists { f =>
          merged.schema.fieldNames.contains(f.name) &&
            merged.schema(f.name).dataType != f.dataType
        }
        if (typeChanged) {
          // a widened column type cannot coexist with the untouched
          // partitions' old physical files under the explicit-schema read
          // (SchemaColumnConvertNotSupported at scan time) — same reason
          // append routes this case to a rewrite
          val untouched = existing.filter(!col("year").isin(years: _*))
          rewrite(fact, Some(v), SchemaEvolution.unionEvolve(untouched, merged))
        } else replaceYears(fact, v, merged, years.toSeq)
    }
  }

  /** Commit `data` in place of the files of `years` — the partition-scoped
    * replace [[merge]] and [[purgeKeys]] ride. A year in `years` with no
    * rows in `data` ends up empty. An `erasure` records as erased every
    * file of those years that the fact or a tag still references: they
    * are deleted even when pinned, and [[vacuum]] deletes them if a crash
    * came first. */
  private def replaceYears(fact: String, base: Version, data: DataFrame,
      years: Seq[Long], erasure: Boolean = false): Unit = {
    val added = writeFiles(fact, data.repartition(col("year")))
    val inYears = (e: Entry) => e.year.exists(years.contains)
    val erased = if (!erasure) Nil
      else (base.files ++ taggedFiles(fact)).filter(inYears).map(_.rel).distinct
    commit(fact, Some(base), data.schema, base.files.filterNot(inYears) ++ added,
      erased)
  }

  /** Targeted erasure by business key (the GDPR/CCPA "right to be
    * forgotten" at warehouse scale): every row whose `keyCol` matches
    * `keys` is removed by rewriting ONLY the `year` partitions that
    * contain such rows — the deletion analog of [[merge]]'s
    * partition-scoped upsert, committed the same way (readers never see a
    * partial partition). The rewritten files are deleted right after the
    * commit even when a tag pins them (erasure outranks reproducibility;
    * such a tag then fails loudly in [[readTag]]); after a crash in
    * between, [[vacuum]] deletes them. A partition whose every row
    * matches is deleted outright.
    *
    * The discovery scan pushes a literal IN filter to the parquet scan,
    * so with range-clustered layout ([[optimize]]) + zone maps it reads
    * a handful of files, not the fact; the rewrite then touches only
    * affected partitions. For erasure sets too large for a literal
    * IN-list, pass a DataFrame of keys — discovery and the kept-rows
    * filter become broadcast joins instead. NULL keys never match a
    * purge list (SQL semantics); rows with NULL `keyCol` are always
    * kept. */
  def purgeKeys(fact: String, keyCol: String, keys: Seq[Any]): Unit = {
    require(keys.nonEmpty, "purgeKeys needs at least one key")
    latest(fact).foreach { v =>
      val df = scan(fact, v)
      val years = df.filter(col(keyCol).isin(keys: _*))
        .select(col("year").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq
      if (years.nonEmpty) {
        val kept = df.filter(col("year").isin(years: _*) &&
          !coalesce(col(keyCol).isin(keys: _*), lit(false)))
        replaceYears(fact, v, kept, years, erasure = true)
      }
    }
  }

  /** [[purgeKeys]] for erasure sets beyond literal IN-list scale: `keys`
    * is a 1-column DataFrame; discovery and retention run as (broadcast
    * when small) joins. */
  def purgeKeys(fact: String, keyCol: String,
      keys: DataFrame): Unit = {
    val keyName = keys.columns match {
      case Array(k) => k
      case other => throw new IllegalArgumentException(
        s"keys must have exactly one column, got ${other.mkString(", ")}")
    }
    latest(fact).foreach { v =>
      val df = scan(fact, v)
      val kd = keys.distinct()
      val years = df.join(kd, df(keyCol) === kd(keyName), "left_semi")
        .select(col("year").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq
      if (years.nonEmpty) {
        val kept = df.filter(col("year").isin(years: _*))
          .join(kd, df(keyCol) === kd(keyName), "left_anti")
        replaceYears(fact, v, kept, years, erasure = true)
      }
    }
  }

  /** Replace the whole fact with a rewritten DataFrame: new files, one
    * commit, then the old files go (unless tags pin them). */
  private def rewrite(fact: String, base: Option[Version], df: DataFrame,
      writeOpts: Map[String, String] = Map.empty,
      keepLayout: Boolean = false): Unit = {
    // keepLayout: the caller pre-arranged the partitioning/ordering (e.g.
    // optimize's range clustering) — the default year repartition would
    // destroy exactly what the rewrite exists to create
    val arranged = if (keepLayout) df else df.repartition(col("year"))
    commit(fact, base, df.schema, writeFiles(fact, arranged, writeOpts))
  }

  /** Garbage collection, under the writer lease (so no in-flight write
    * loses its files). In order, it deletes: every file a version still in
    * the log lists as erased (a crash can come between an erasure's commit
    * and its deletes); every data file and version that neither the newest
    * version nor a tag references — what a crash before a commit or before
    * its deletes left, and the versions superseded since; and any staging
    * a crash left behind. Safe to run any time.
    *
    * A directory an older build wrote (data, no `_log`) is adopted first:
    * version 0 is committed from its `_schema.json` and a listing of its
    * data files. Its old tags cannot be carried over; adoption refuses
    * while any exist. */
  def vacuum(fact: String): Unit = if (fs.exists(path(fact)))
    withWriterLease(fact, holder = "vacuum") {
      val f = fs
      if (versions(fact).isEmpty) adopt(fact)
      val all = versions(fact).get.map(readVersion(fact, _))
      val keep = all.lastOption.map(_.v).toSet ++ taggedVersions(fact)
      val erased = all.flatMap(_.erased).distinct
      val referenced = all.filter(v => keep(v.v)).flatMap(_.files.map(_.rel))
        .toSet -- erased
      val unreferenced = dataFilesUnder(path(fact)).map(_.rel).filterNot(referenced)
      deleteFiles(fact, (erased ++ unreferenced).distinct, referenced)
      f.listStatus(logDir(fact)).map(_.getPath).filter(p => p.getName match {
        case VersionFile(v) => !keep(v.toLong)
        case _ => true // a crashed commit's temp file
      }).foreach(f.delete(_, false))
      Seq("_staging", "_schema.json", "_retired")
        .foreach(n => f.delete(new Path(path(fact), n), true))
    }

  private def adopt(fact: String): Unit = {
    val f = fs
    val old = path(fact)
    val files = dataFilesUnder(old)
    if (files.isEmpty) { f.mkdirs(logDir(fact)); return } // nothing to adopt
    require(!f.exists(tagsDir(fact)),
      s"$old: tags from an older build cannot be adopted; delete ${tagsDir(fact)} first")
    val schemaFile = new Path(old, "_schema.json")
    require(f.exists(schemaFile), s"$old: no _log and no _schema.json to adopt")
    val schema = DataType.fromJson(readText(schemaFile)).asInstanceOf[StructType]
    commit(fact, None, schema, files)
  }

  /** Retention: drop whole year partitions — one commit, no rewrite, no
    * scan; the cheapest possible delete and the reason the partition key
    * should be the retention key. The reference exposes a `delete` command
    * at table granularity only (OLAP.php:385,393 usage); partition
    * retention is its scale-correct refinement. Tags keep pinning the
    * dropped files until they expire. */
  def dropPartitions(fact: String, years: Seq[Long]): Unit =
    latest(fact).foreach { v =>
      val kept = v.files.filterNot(_.year.exists(years.contains))
      if (kept.size < v.files.size) commit(fact, Some(v), v.schema, kept)
    }

  /** Drop the whole fact, its log and tags (the reference's `delete`). */
  def drop(fact: String): Unit = {
    fs.delete(path(fact), true)
  }

  /** Compaction (SURVEY §7.4 risk 5): daily appends accumulate one small
    * file per run per partition; periodically rewrite each year partition
    * into few well-sized files. One shuffle by partition key, then a
    * size-capped write. */
  def compact(fact: String, maxRecordsPerFile: Long = 5000000L): Unit =
    latest(fact).foreach { v =>
      rewrite(fact, Some(v), scan(fact, v),
        Map("maxRecordsPerFile" -> maxRecordsPerFile.toString))
    }

  /** Layout optimization: rewrite the fact range-CLUSTERED and sorted on
    * `sortCols` (year leading, so the partition dirs stay coherent). The
    * payoff at scale is file-level pruning: parquet footers carry per-file
    * min/max, and a range-clustered layout makes those ranges DISJOINT, so
    * a point or range predicate on the cluster key reads one file per
    * partition instead of all of them — the single-dimension analog of
    * Z-ordering, and the difference between scanning 100 TB and scanning
    * 100 GB for a selective query on a non-partition column.
    *
    * `targetFiles` sizes the rewrite (total range partitions across the
    * fact): pick fact size / healthy file size (~128-512 MB). One commit,
    * like every rewrite. Sorting within files additionally tightens
    * row-group statistics and improves run-length/dictionary encoding on
    * the sort key. */
  def optimize(fact: String, sortCols: Seq[String],
      targetFiles: Int = 64): Unit = {
    require(sortCols.nonEmpty, "optimize needs at least one sort column")
    latest(fact).foreach { v =>
      val keys = col("year") +: sortCols.map(col)
      val arranged = scan(fact, v).repartitionByRange(targetFiles, keys: _*)
        .sortWithinPartitions(keys: _*)
      rewrite(fact, Some(v), arranged, keepLayout = true)
    }
  }

  /** Z-order clustering on TWO columns: each value ranks into a
    * `bitsPerDim`-bit bucket against its global min/max, the two ranks
    * bit-interleave into one z-value, and files range-partition + sort
    * on (year, z). Because z-proximity implies proximity in BOTH
    * dimensions, the per-file min/max zone maps ([[collectStats]]) stay
    * selective for range predicates on EITHER column — the layout that
    * makes `readRange` useful on a second dimension, where a plain
    * 1-D [[optimize]] sort leaves the other column's per-file ranges
    * spanning the whole domain. One tiny bounds aggregation to the
    * driver; the interleave is pure codegen bit arithmetic. A column with
    * no non-null value (or an empty fact) ranks every row 0, like a
    * constant one. */
  def zOrderBy(fact: String, colA: String, colB: String,
      targetFiles: Int = 64, bitsPerDim: Int = 16): Unit = {
    require(bitsPerDim >= 1 && bitsPerDim <= 21,
      s"bitsPerDim=$bitsPerDim out of [1, 21] (2*bits must fit a long)")
    latest(fact).foreach { v =>
      val df = scan(fact, v)
      val b = df.agg(
        min(col(colA).cast("double")), max(col(colA).cast("double")),
        min(col(colB).cast("double")), max(col(colB).cast("double"))).collect()(0)
      val top = (1L << bitsPerDim) - 1
      def rank(c: Column, i: Int): Column =
        if (b.isNullAt(i) || b.getDouble(i) == b.getDouble(i + 1)) lit(0L)
        else {
          val (lo, hi) = (b.getDouble(i), b.getDouble(i + 1))
          least(floor((c.cast("double") - lit(lo)) / lit(hi - lo) *
            lit(top.toDouble + 1.0)), lit(top)).cast("long")
        }
      val u = rank(col(colA), 0)
      val w = rank(col(colB), 2)
      val z = (0 until bitsPerDim).map { i =>
        shiftleft(shiftright(u, i).bitwiseAND(lit(1L)), 2 * i)
          .bitwiseOR(shiftleft(shiftright(w, i).bitwiseAND(lit(1L)), 2 * i + 1))
      }.reduce(_ bitwiseOR _)
      val arranged = df.withColumn("__z", z)
        .repartitionByRange(targetFiles, col("year"), col("__z"))
        .sortWithinPartitions(col("year"), col("__z"))
        .drop("__z")
      rewrite(fact, Some(v), arranged, keepLayout = true)
    }
  }

  // ---------------- snapshot tags (zero-copy dataset pinning) ----------------

  private def tagsDir(fact: String) = new Path(path(fact), "_tags")
  private def tagPath(fact: String, name: String) =
    new Path(tagsDir(fact), s"$name.json")

  /** The tag files, without a tag write's staged temp file. */
  private def tagFiles(fact: String): Seq[FileStatus] =
    if (!fs.exists(tagsDir(fact))) Nil
    else fs.listStatus(tagsDir(fact)).toSeq
      .filter(_.getPath.getName.endsWith(".json"))

  private def tagVersion(at: Path): Long =
    mapper.readTree(readText(at)).get("version").asLong()

  private def taggedVersions(fact: String): Set[Long] =
    tagFiles(fact).map(st => tagVersion(st.getPath)).toSet

  /** Pin the fact's CURRENT version under a name — a zero-copy dataset
    * snapshot (one small file holding the version number; no data moves).
    * The reproducibility primitive a training pipeline needs: record the
    * tag next to the model run, and [[readTag]] re-reads byte-identical
    * input even after appends, compaction, layout optimization, merges
    * or partition drops — a commit deletes no file a tag's version
    * references (the Iceberg/Delta snapshot idea, carried by plain
    * parquet + the commit log).
    *
    * Lifecycle: [[expireTag]] drops the pin and [[vacuum]] reclaims what
    * nothing references any more. By contract [[drop]] deletes the tags
    * with the fact, and [[purgeKeys]] deletes the erased files even when
    * pinned (erasure outranks reproducibility) — such a tag then fails
    * loudly at read time, never silently. */
  def tag(fact: String, name: String): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"bad tag name: $name")
    val v = latest(fact)
    require(v.nonEmpty, s"no such fact: $fact")
    writeMeta(tagPath(fact, name), s"""{"version": ${v.get.v}}""")
  }

  /** All tag names pinned on the fact. */
  def tags(fact: String): Seq[String] =
    tagFiles(fact).map(_.getPath.getName.stripSuffix(".json")).sorted

  /** Drop a pin. Files only it referenced become garbage for [[vacuum]]. */
  def expireTag(fact: String, name: String): Unit = {
    fs.delete(tagPath(fact, name), false)
    ()
  }

  /** Read the fact at the version a tag pinned — the dataset as it was at
    * [[tag]] time, whatever has been appended, compacted, optimized, or
    * merged since. A pinned file that no longer exists (erased by a purge)
    * fails here with a precise message. */
  def readTag(fact: String, name: String): DataFrame = {
    val at = tagPath(fact, name)
    require(fs.exists(at), s"no such tag '$name' on fact '$fact'")
    val v = readVersion(fact, tagVersion(at))
    v.files.find(e => !fs.exists(new Path(path(fact), e.rel))).foreach { e =>
      throw new java.io.IOException(s"tag '$name' of fact '$fact': pinned " +
        s"file ${e.rel} no longer exists (purged)")
    }
    scan(fact, v)
  }

  /** Retention-age policy over the reproducibility pins — the time-based
    * analog of [[dropPartitions]]: expire every tag whose file is older
    * than `maxAgeDays` (filesystem mtime — set at [[tag]] time and never
    * touched again), then [[vacuum]] the storage nothing still pins. Run
    * it on the same janitor cadence as [[compact]]; without it forgotten
    * tags pin every rewrite's dropped files forever. `nowMillis` is
    * injectable for tests/backfills. Returns the expired tag names. */
  def expireTags(fact: String, maxAgeDays: Int,
      nowMillis: Long = System.currentTimeMillis()): Seq[String] = {
    require(maxAgeDays >= 0, s"maxAgeDays must be >= 0, got $maxAgeDays")
    val cutoff = nowMillis - maxAgeDays * 86400000L
    val old = tagFiles(fact).filter(_.getModificationTime < cutoff)
      .map(_.getPath.getName.stripSuffix(".json")).sorted
    old.foreach(expireTag(fact, _))
    if (old.nonEmpty) vacuum(fact)
    old
  }

  // ------------------------- zone maps -------------------------

  private def statsPath(fact: String) = new Path(path(fact), "_stats.json")

  /** Canonical manifest key for a file URI string: (authority, path)
    * via Hadoop Path parsing — "file:///x", "file:/x" and a bare "/x"
    * collapse together, while "s3a://bucket/x" keeps its bucket (a raw
    * java.net.URI getPath would DROP the authority and silently disable
    * pruning on object stores; Hadoop Path also tolerates spaces that
    * make java.net.URI throw). Applied to BOTH the writer's
    * input_file_name() strings and the version's files, so the two
    * sides can never disagree on form. */
  private def normFile(s: String): String = {
    val u = new Path(s).toUri
    Option(u.getAuthority).getOrElse("") + u.getPath
  }

  private def normFile(fact: String, e: Entry): String =
    normFile(new Path(path(fact), e.rel).toString)

  /** Build/refresh the fact's zone map: per-FILE min/max of `cols`,
    * persisted as one small JSON-lines manifest (`_stats.json`, underscore
    * = invisible to parquet listings). This is what makes a selective
    * predicate on a NON-partition column skip files without touching
    * them: parquet footers already carry these ranges, but Spark must
    * still open every footer to use them — at 100 TB that is millions of
    * S3 reads before the first data byte. The manifest costs one
    * aggregation scan to build (run it after [[optimize]], whose
    * range-clustering makes the per-file ranges disjoint and the skipping
    * sharp) and one small-file read per query to use — the same
    * manifest-statistics idea Iceberg/Delta attach to their commit logs.
    * One row per data file, aggregated distributed, collected only at
    * manifest scale. */
  def collectStats(fact: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "collectStats needs at least one column")
    read(fact).foreach(df => writeStats(fact, df, cols, Nil))
  }

  /** Incremental manifest refresh after appends: scan ONLY the live files
    * the manifest does not cover yet and merge their rows in — the
    * daily-append cadence never re-reads the settled bulk of the fact.
    * Entries of files the fact no longer has (a rewrite dropped them) are
    * dropped, so the manifest stays one line per live file; a rewrite
    * makes every file new, so the refresh after it is a full rebuild.
    * Falls back to a full rebuild when the manifest is absent or covers
    * different columns. */
  def refreshStats(fact: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "refreshStats needs at least one column")
    if (!fs.exists(statsPath(fact))) { collectStats(fact, cols); return }
    val stats = parseManifest(manifestLines(statsPath(fact)))
    val covered = ("file" +: cols.flatMap(c => Seq(s"min_$c", s"max_$c")))
      .forall(stats.schema.fieldNames.contains)
    if (!covered) { collectStats(fact, cols); return }
    refreshManifest(fact, statsPath(fact))(writeStats(fact, _, cols, _))
  }

  /** The shared half of [[refreshStats]] and [[refreshBloom]]: keep the
    * manifest lines of live files, and hand the live files no line covers
    * (as one relation) to `write` with the kept lines. A no-op when every
    * line is live and every live file covered. */
  private def refreshManifest(fact: String, at: Path)(
      write: (DataFrame, Seq[String]) => Unit): Unit =
    latest(fact).foreach { v =>
      val lines = manifestLines(at)
      val live = v.files.map(normFile(fact, _)).toSet
      val kept = lines.filter(l =>
        live.contains(normFile(mapper.readTree(l).get("file").asText())))
      val known = kept.map(l => normFile(mapper.readTree(l).get("file").asText())).toSet
      val fresh = v.files.filterNot(e => known.contains(normFile(fact, e)))
      if (fresh.nonEmpty || kept.size < lines.size)
        write(relation(fact, v.schema, fresh), kept)
    }

  private def writeStats(fact: String, df: DataFrame, cols: Seq[String],
      keepLines: Seq[String]): Unit = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    // file keys stay RAW here; normFile canonicalizes both the
    // manifest values and the version's files at read time
    val rows = df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .select(to_json(struct(col("*"))).as("j"))
      .collect().map(_.getString(0))
    writeMeta(statsPath(fact), (keepLines ++ rows).mkString("\n"))
  }

  private def manifestLines(at: Path): Seq[String] =
    readText(at).split("\n").toSeq.filter(_.nonEmpty)

  private def parseManifest(lines: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.json(spark.createDataset(lines))
  }

  /** Read the fact restricted to `lo <= column <= hi`, skipping every
    * file whose zone-map range cannot overlap the interval. EXACT under
    * stale stats: files newer than the manifest (or with null ranges)
    * have no entry and are always read, and the row-level predicate is
    * re-applied after the file-level skip — stats can only remove
    * provably-empty scans, never rows. A plain filtered read when no
    * manifest exists. */
  def readRange(fact: String, column: String, lo: Any, hi: Any): Option[DataFrame] =
    prunedRead(fact, col(column) >= lit(lo) && col(column) <= lit(hi),
      v => inRanges(fact, v.files, column, Seq(lo -> hi)))

  /** Files a [[readRange]] over the interval would scan (also the
    * observability hook the pruning specs assert against): every live
    * data file EXCEPT those whose manifest range is provably disjoint
    * from [lo, hi] — unlisted (newer-than-manifest) and null-range files
    * always survive. */
  def filesForRange(fact: String, column: String, lo: Any, hi: Any): Seq[String] =
    survivors(fact)(v => inRanges(fact, v.files, column, Seq(lo -> hi)))

  /** The `files` the zone map cannot prove disjoint from EVERY one of
    * `ranges`; all of them when no manifest covers `column`. */
  private def inRanges(fact: String, files: Seq[Entry], column: String,
      ranges: Seq[(Any, Any)]): Seq[Entry] =
    if (!fs.exists(statsPath(fact))) files
    else {
      // the underscore prefix hides the manifest from Spark's file
      // listings (that's the point) — load bytes via the FS API
      val stats = parseManifest(manifestLines(statsPath(fact)))
      // a manifest that does not cover `column` (collected for other
      // columns, or empty) can prune nothing
      val covered = Seq("file", s"min_$column", s"max_$column")
        .forall(stats.schema.fieldNames.contains)
      if (!covered) files
      else {
        val disjoint = ranges.map { case (lo, hi) =>
          coalesce(col(s"max_$column") < lit(lo), lit(false)) ||
            coalesce(col(s"min_$column") > lit(hi), lit(false))
        }.reduce(_ && _)
        val pruned = stats.filter(disjoint).select(col("file"))
          .collect().map(r => normFile(r.getString(0))).toSet
        files.filterNot(e => pruned.contains(normFile(fact, e)))
      }
    }

  // -------------------------------------------------------------------
  // Per-file bloom manifest: equality skipping where zone maps can't.
  //
  // Zone maps prune RANGE predicates and need the layout clustered on
  // the column to be sharp. A point lookup on a high-cardinality column
  // (order id, document id, user hash) is the opposite regime: ranges
  // overlap everywhere, but any single value truly lives in only a few
  // files — a per-file bloom filter proves the rest can't contain it.
  // Same manifest-statistics idea Delta's bloom indexes / Parquet
  // bloom_filter pages implement, held in one small sidecar so the
  // reader never opens a footer to decide to skip (at 100 TB the footer
  // reads ARE the cost). bits=8192 (1 KiB/file) keeps false positives
  // ~2% at 1k distinct keys/file; false positives only cost an extra
  // file scan — the row predicate is always re-applied, so results are
  // exact by construction.
  // -------------------------------------------------------------------

  private def bloomPath(fact: String) = new Path(path(fact), "_bloom.json")

  /** Build/rebuild the fact's bloom manifest for `column`: one packed
    * `bits`-bit filter per data file, persisted as JSON lines. One
    * distributed aggregation; only (files × bits/64) words reach the
    * driver. Null keys set no bits (an equality probe can never match
    * null).
    *
    * SIZE `bits` TO THE KEYS PER FILE: with k=4 probes the false-positive
    * rate is (1−e^(−4n/bits))⁴ — budget ≥ 10 bits per distinct key
    * (~1% FP; the default 8 Kib covers ~800 keys/file) and the filter
    * degrades gracefully (saturation only means fewer skips, never a
    * wrong row — the ScaleDemo bloom_probe row at K=50 shows exactly
    * this failure-to-prune under an undersized filter vs the sharp
    * 17-bit sizing). */
  def collectBloom(fact: String, column: String, bits: Int = 1 << 13,
      k: Int = 4): Unit =
    read(fact).foreach(df => writeBloom(fact, df, column, bits, k, Nil))

  /** Incremental manifest refresh after appends: scan only the live files
    * the manifest does not cover, and drop the entries of files the fact
    * no longer has (same contract as [[refreshStats]]). A manifest built
    * with different column/bits/k parameters is rebuilt from scratch. */
  def refreshBloom(fact: String, column: String, bits: Int = 1 << 13,
      k: Int = 4): Unit = {
    if (!fs.exists(bloomPath(fact))) { collectBloom(fact, column, bits, k); return }
    val compatible = bloomEntries(fact).forall(e =>
      e.col == column && e.bits == bits && e.k == k)
    if (!compatible) { collectBloom(fact, column, bits, k); return }
    refreshManifest(fact, bloomPath(fact))(writeBloom(fact, _, column, bits, k, _))
  }

  private def writeBloom(fact: String, df: DataFrame, column: String,
      bits: Int, k: Int, keepLines: Seq[String]): Unit = {
    require(bits > 0 && bits % 64 == 0, s"bits must be a positive multiple of 64, got $bits")
    require(k > 0, s"need k > 0 hash probes, got $k")
    val perPos = df.filter(col(column).isNotNull)
      .select(input_file_name().as("file"),
        explode(array(graft.ext.BloomJoin.positions(col(column), bits, k): _*)).as("p"))
    val words = perPos
      .select(col("file"), (col("p") / 64).cast("int").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("m"))
      .groupBy(col("file"), col("w")).agg(bit_or(col("m")).as("m"))
      .collect()
    val byFile = words.groupBy(_.getString(0))
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = byFile.toSeq.sortBy(_._1).map { case (file, rs) =>
      val arr = new Array[Long](bits / 64)
      rs.foreach(r => arr(r.getInt(1)) = r.getLong(2))
      s"""{"file":"${esc(file)}","col":"${esc(column)}","bits":$bits,"k":$k,"words":[${arr.mkString(",")}]}"""
    }
    writeMeta(bloomPath(fact), (keepLines ++ lines).mkString("\n"))
  }

  private case class BloomEntry(file: String, col: String, bits: Int,
      k: Int, words: Array[Long])

  private def bloomEntries(fact: String): Seq[BloomEntry] = {
    val df = parseManifest(manifestLines(bloomPath(fact)))
    df.select(col("file"), col("col"), col("bits").cast("int"),
        col("k").cast("int"), col("words"))
      .collect().map { r =>
        BloomEntry(r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
          r.getSeq[Long](4).toArray)
      }.toSeq
  }

  /** Spark's `CAST(x AS STRING)` for the key types the bloom manifest
    * supports — the driver-side probe must hash the SAME bytes the
    * writer's column expression hashed. Floating-point values are
    * rejected: their string forms differ across engines/paths. */
  private def sparkKeyString(v: Any): String = v match {
    case s: String => s
    case l: Long => l.toString
    case i: Int => i.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case b: Boolean => b.toString
    case other => throw new IllegalArgumentException(
      s"bloom probe supports integral/string/boolean keys, got ${other.getClass.getSimpleName}")
  }

  /** Files an equality probe `column = value` must scan: [[filesForIn]]
    * with one value. */
  def filesForEquals(fact: String, column: String, value: Any): Seq[String] =
    filesForIn(fact, column, Seq(value))

  /** Read the fact restricted to `column = value`, skipping every file
    * either sidecar (bloom membership, zone-map range) proves empty.
    * EXACT under stale manifests: uncovered files are always read and
    * the row-level predicate is re-applied after the file-level skip. */
  def readEquals(fact: String, column: String, value: Any): Option[DataFrame] =
    prunedRead(fact, col(column) === lit(value), inValues(fact, _, column, Seq(value)))

  /** Files an IN-list probe must scan: every live data file EXCEPT those
    * proven empty by EITHER sidecar — the zone map (no value's point
    * range overlaps the file) or the bloom filter (no value's key is a
    * member); the sharper manifest wins, and a clustered layout prunes by
    * range even when its bloom is saturated. Files a manifest does not
    * cover (newer than the last refresh) and facts with no/incompatible
    * manifests keep every file — skipping is an optimization, never a
    * filter. */
  def filesForIn(fact: String, column: String, values: Seq[Any]): Seq[String] =
    survivors(fact)(inValues(fact, _, column, values))

  private def inValues(fact: String, v: Version, column: String,
      values: Seq[Any]): Seq[Entry] = {
    require(values.nonEmpty, "an IN probe needs at least one value")
    val keys = values.map(sparkKeyString)
    val ranged = inRanges(fact, v.files, column, values.map(x => x -> x))
    if (!fs.exists(bloomPath(fact))) ranged
    else {
      val absent = bloomEntries(fact).filter(_.col == column)
        .filterNot(e => keys.exists(k =>
          graft.ext.BloomJoin.mightContain(k, e.words, e.bits, e.k)))
        .map(e => normFile(e.file)).toSet
      ranged.filterNot(e => absent.contains(normFile(fact, e)))
    }
  }

  /** Read the fact restricted to `column IN (values)` with bloom file
    * skipping — the multi-tenant/point-lookup batch form. */
  def readIn(fact: String, column: String, values: Seq[Any]): Option[DataFrame] =
    prunedRead(fact, col(column).isin(values: _*), inValues(fact, _, column, values))

  /** Qualified paths of the newest version's files that `pick` keeps. */
  private def survivors(fact: String)(pick: Version => Seq[Entry]): Seq[String] = {
    val base = fs.makeQualified(path(fact))
    latest(fact).toSeq.flatMap(pick).map(e => new Path(base, e.rel).toString)
  }

  /** The one pruned read: the newest version's relation over the files
    * `pick` keeps, with the row predicate re-applied. */
  private def prunedRead(fact: String, pred: Column,
      pick: Version => Seq[Entry]): Option[DataFrame] =
    latest(fact).map(v => relation(fact, v.schema, pick(v)).filter(pred))
}

object Warehouse {
  private val mapper = new ObjectMapper()

  /** One data file of a version: its path under the fact dir, its `year`
    * (None for Spark's null partition), size and mtime. */
  private case class Entry(rel: String, year: Option[Long], size: Long, mtime: Long)

  /** One committed version: the full state of the fact. */
  private case class Version(v: Long, schema: StructType, files: Seq[Entry],
      erased: Seq[String]) {
    def json: String = {
      val o = mapper.createObjectNode()
      o.put("version", v)
      o.set[ObjectNode]("schema", mapper.readTree(schema.json))
      val fs = o.putArray("files")
      files.foreach { e =>
        val f = fs.addObject().put("path", e.rel)
        e.year.fold(f.putNull("year"))(y => f.put("year", y))
        f.put("size", e.size).put("mtime", e.mtime)
      }
      val er = o.putArray("erased")
      erased.foreach(s => er.add(s))
      mapper.writeValueAsString(o)
    }
  }

  private def parseVersion(v: Long, txt: String): Version = {
    val n = mapper.readTree(txt)
    Version(v, DataType.fromJson(n.get("schema").toString).asInstanceOf[StructType],
      n.get("files").elements().asScala.map { f =>
        Entry(f.get("path").asText(),
          Option(f.get("year")).filterNot(_.isNull).map(_.asLong()),
          f.get("size").asLong(), f.get("mtime").asLong())
      }.toSeq,
      n.get("erased").elements().asScala.map(_.asText()).toSeq)
  }

  /** The `year` of a `year=Y` partition dir name. */
  private def yearOf(dir: String): Option[Long] =
    dir.stripPrefix("year=") match {
      case "__HIVE_DEFAULT_PARTITION__" => None
      case y => Some(y.toLong)
    }

  /** A file index over a fixed file list, each file with its `year` — the
    * commit-log analog of Spark's own `MetadataLogFileIndex`. Nothing is
    * listed: the partition spec and the per-directory file map come from
    * the entries. */
  private final class LogFileIndex(spark: SparkSession, root: Path,
      partSchema: StructType, files: Seq[(FileStatus, Option[Long])])
      extends PartitioningAwareFileIndex(spark, Map.empty, None) {
    override val rootPaths: Seq[Path] = Seq(root)
    override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
      mutable.LinkedHashMap(files.map(f => f._1.getPath -> f._1): _*)
    override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
      files.map(_._1).toArray.groupBy(_.getPath.getParent)
    private val spec = PartitionSpec(partSchema,
      files.groupBy(_._1.getPath.getParent).toSeq.map { case (dir, fs) =>
        PartitionPath(InternalRow(fs.head._2.map(y =>
          Cast(Literal(y), partSchema.head.dataType, Some("UTC")).eval()).orNull), dir)
      })
    override def partitionSpec(): PartitionSpec = spec
    override def refresh(): Unit = ()
  }
}
