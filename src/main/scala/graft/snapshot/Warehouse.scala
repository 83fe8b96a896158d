package graft.snapshot

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed fact-table catalog: one directory per fact under `root`,
  * partitioned by `year` so date cuts prune files at the source
  * (SURVEY.md §4 "Snapshot pruning"; the reference's implicit
  * (queryId, year, month, week, day) keying, OLAP.php:166-175).
  *
  * All filesystem operations go through the Hadoop FileSystem API so the
  * root may live on any supported store (local, HDFS, S3A, ...), not just
  * the local disk.
  *
  * Appends are plain partition-local parquet writes; a widening schema
  * change (the reference's `CHANGE COLUMN`, S7) triggers a one-off rewrite
  * since parquet files are immutable. New nullable columns need no rewrite:
  * the authoritative evolved schema is persisted per fact (`_schema.json`)
  * and reads bind to it directly — no per-read footer merging — with older
  * files null-filling the missing columns.
  */
final class Warehouse(spark: SparkSession, val root: String) extends FactStore {

  private def path(fact: String) = new Path(root, fact)

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(fact: String): Boolean = fs.exists(path(fact))

  /** Replace a small metadata file (`_schema.json`, a tag, `_stats.json`,
    * `_bloom.json`) in one step, so a concurrent reader opens either the
    * old bytes or the new ones — never an empty or half-written file. The
    * bytes are staged in a `_`-prefixed temp file beside the target (the
    * underscore hides it from parquet listings) and renamed over it.
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

  // ---------------- single-writer lease ----------------

  private def lockPath(fact: String) = new Path(root, s"_locks/$fact.lock")

  /** Acquire the exclusive writer lease for `fact`, or throw if another
    * live writer holds it. The staged-rename protocols are crash-safe
    * for ONE writer; two concurrent snapshot jobs on the same fact can
    * interleave their read-check/append pairs — this lease makes the
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
    // Creation must be atomic in EXISTENCE and CONTENT. On a remote
    // store (HDFS/S3A) create-no-overwrite is server-side atomic and we
    // use it directly. On the LOCAL filesystem Hadoop's
    // create(overwrite=false) is check-then-act (two racers can both
    // pass the exists() test) and the file is readable EMPTY before the
    // write lands — so there we write the body to a token-unique temp
    // file and HARD-LINK it into place: link(2) is atomic, fails if the
    // destination exists, and the content is complete at link time.
    def tryCreate(): Boolean =
      if (f.getScheme == "file") {
        val dir = java.nio.file.Paths.get(lp.getParent.toUri.getPath)
        val tmp = dir.resolve(s".${lp.getName}.$token.tmp")
        try {
          java.nio.file.Files.write(tmp, lockBody())
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(lp.toUri.getPath), tmp)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: java.io.IOException => false
        } finally {
          try java.nio.file.Files.deleteIfExists(tmp)
          catch { case _: java.io.IOException => () }
        }
      } else
        try {
          val out = f.create(lp, false) // atomic create-no-overwrite
          try out.write(lockBody()) finally out.close()
          true
        } catch { case _: java.io.IOException => false }
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

  /** The authoritative schema file, maintained on every write. Underscore
    * prefix = invisible to the parquet file listing (like _SUCCESS). At
    * 100 TB this is the difference between opening ONE small JSON file per
    * query and footer-merging every parquet file in the table
    * (`mergeSchema` lists and reads all footers on every read). */
  private def schemaPath(fact: String) = new Path(path(fact), "_schema.json")

  /** All-nullable copy (flat schemas): appends may null-fill any column. */
  private def allNullable(s: org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map(_.copy(nullable = true)))

  private def storeSchema(fact: String, schema: org.apache.spark.sql.types.StructType): Unit =
    storeSchemaAt(schemaPath(fact), schema)

  private def storeSchemaAt(at: Path, schema: org.apache.spark.sql.types.StructType): Unit = {
    // the scan emits partition columns last regardless of schema position;
    // store in that order so read schemas equal the stored schema exactly
    val (data, part) = schema.fields.partition(_.name != "year")
    writeMeta(at, org.apache.spark.sql.types.StructType(data ++ part).json)
  }

  /** Stored authoritative schema, if this fact has one (tables written by
    * older layouts fall back to a mergeSchema read). */
  def storedSchema(fact: String): Option[org.apache.spark.sql.types.StructType] =
    if (!fs.exists(schemaPath(fact))) None
    else {
      val in = fs.open(schemaPath(fact))
      val bytes = try in.readAllBytes() finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(new String(bytes, "UTF-8"))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }

  def read(fact: String): Option[DataFrame] =
    if (!exists(fact)) None
    else storedSchema(fact) match {
      case Some(schema) =>
        // explicit schema: no footer listing/merging, and the partition
        // column (`year`) keeps its authoritative long type directly
        Some(spark.read.schema(schema).parquet(path(fact).toString))
      case None =>
        val df = spark.read.option("mergeSchema", "true").parquet(path(fact).toString)
        // partition-dir inference narrows `year` to int; restore the
        // authoritative injected type (long) for a stable schema
        Some(df.withColumn("year", col("year").cast("long")))
    }

  /** Replace the fact's content wholesale (streaming complete-mode sink:
    * each epoch is the full recomputed state, last epoch wins — idempotent
    * by construction under micro-batch retries). Staged write + rename
    * swap, NOT delete-then-write: concurrent readers never observe a
    * missing/partial table, and a crash mid-epoch cannot lose the fact. */
  def overwrite(fact: String, batch: DataFrame): Unit =
    replaceWith(fact, batch)

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
  def append(fact: String, batch: DataFrame): Unit = read(fact) match {
    case None =>
      write(batch, SaveMode.Overwrite, fact)
      storeSchema(fact, allNullable(batch.schema))
    case Some(existing) =>
      val evolved = SchemaEvolution.evolvedSchema(existing.schema, batch.schema)
      val sharedTypesIdentical = existing.schema.fields.forall { f =>
        batch.schema.fieldNames.find(_ == f.name)
          .forall(n => batch.schema(n).dataType == f.dataType)
      }
      if (evolved == allNullable(existing.schema)) {
        // no widening needed: align the batch to the stored schema.
        // Schema file FIRST: identical field set, so ordering is moot for
        // readers, and a crash between the two leaves nothing stale.
        storeSchema(fact, evolved)
        val aligned = SchemaEvolution.unionEvolve(existing.limit(0), batch)
        write(aligned, SaveMode.Append, fact)
      } else if (sharedTypesIdentical
          && existing.schema.fieldNames.forall(batch.schema.fieldNames.contains)) {
        // batch only ADDS nullable columns (shared column types identical —
        // a type-widened superset must NOT land here: mixed physical types
        // across files can make the table unreadable): append as-is, older
        // files null-fill the new columns at read time.
        // Schema file BEFORE the data: a crash in between leaves the new
        // column visible and all-null (harmless — appends are nullable by
        // contract), whereas the reverse order would leave appended data
        // invisible behind a stale schema with no error.
        storeSchema(fact, evolved)
        write(batch, SaveMode.Append, fact)
      } else {
        // type change: one-off rewrite (ref S7 CHANGE COLUMN analog)
        replaceWith(fact, SchemaEvolution.unionEvolve(existing, batch))
      }
  }

  /** Upsert by business key: batch rows replace existing rows sharing the
    * same `keys`; unmatched batch rows insert. The daily-corrections
    * operation the reference's append-only model cannot express (its only
    * guard is the whole-scope idempotency probe, OLAP.php:166-175).
    *
    * PARTITION-SCOPED: only the `year` partitions present in the batch
    * are read, merged, and swapped — at warehouse scale a correction
    * batch touches a handful of partitions, never the table. Each
    * partition directory swaps via two renames (out to a sibling
    * `<fact>.merge.old/`, then the merged copy in), so readers never
    * observe a partial or doubled partition; a crash between the two
    * renames leaves that one partition absent from reads but intact in
    * the sibling dir ([[vacuum]] renames it back, or re-running the
    * merge completes it). A shared-column TYPE change disables the fast path:
    * widened types cannot coexist with untouched partitions' old
    * physical files, so that case rewrites the whole fact (same rule as
    * append).
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
    read(fact) match {
      case None => append(fact, batch)
      case Some(existing) =>
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
          // append routes this case to a rewrite. Full-table rewrite here
          // too; the partition-scoped fast path is for the steady state.
          val untouched = existing.filter(!col("year").isin(years: _*))
          replaceWith(fact, SchemaEvolution.unionEvolve(untouched, merged))
        } else swapYearPartitions(fact, merged, years.toSeq)
    }
  }

  /** Stage `data`'s year partitions and swap exactly `years` in by rename
    * — the partition-scoped replace both [[merge]] and [[purgeKeys]] ride.
    * A year in `years` with NO rows in `data` is deleted (staged out, no
    * replacement swapped in) — purge relies on this for fully-erased
    * partitions. Crash windows are covered by [[vacuum]]. With
    * `retireDisplaced` (the default), displaced partitions move to the
    * retired area when tags pin them ([[tag]]).
    *
    * `erasure` (purge) switches the staging names to `<fact>.purge` /
    * `<fact>.purge.old` and records the swapped years in a marker file:
    * displaced ERASURE partitions contain the very rows being removed, so
    * [[vacuum]] must roll a crashed purge FORWARD from the staged purged
    * copies — restoring the displaced copies (the merge recovery) would
    * resurrect them. Erasure also forces displaced copies to be deleted,
    * never retired, regardless of tags. */
  private def swapYearPartitions(fact: String, data: DataFrame,
      years: Seq[Long], retireDisplaced: Boolean = true,
      erasure: Boolean = false): Unit = {
    val target = path(fact)
    val protocol = if (erasure) ".purge" else ".merge"
    val tmp = new Path(target.getParent, target.getName + protocol)
    // displaced partitions are staged in a SIBLING dir, never inside
    // the fact dir: the read glob must not see old+new copies during
    // the swap window (and `year=2024.old` would parse as year=null)
    val oldRoot = new Path(target.getParent, target.getName + protocol + ".old")
    val f = fs
    if (f.exists(tmp)) f.delete(tmp, true)
    if (f.exists(oldRoot)) f.delete(oldRoot, true)
    data.repartition(col("year")).write.partitionBy("year")
      .mode(SaveMode.Overwrite).parquet(tmp.toString)
    // schema AFTER the tmp write succeeds: a failed write job leaves
    // the live table (data and schema) exactly as it was. New columns
    // are nullable, so a crash between here and the swaps exposes at
    // worst an all-null column — never unreadable data.
    storeSchema(fact, allNullable(data.schema))
    if (erasure) {
      // marker written after the staged rewrite fully succeeded and
      // BEFORE any rename: its presence tells vacuum exactly which years
      // a crashed purge was swapping (a fully-erased year has no staged
      // dir, so the year list cannot be inferred from tmp's contents)
      val out = f.create(new Path(tmp, "_purge_years.json"), true)
      try out.write(years.mkString("[", ",", "]").getBytes("UTF-8"))
      finally out.close()
    }
    f.mkdirs(oldRoot)
    years.foreach { y =>
      val src = new Path(tmp, s"year=$y")
      val dst = new Path(target, s"year=$y")
      val old = new Path(oldRoot, s"year=$y")
      if (f.exists(dst) && !f.rename(dst, old))
        throw new java.io.IOException(s"could not stage out $dst")
      if (f.exists(src) && !f.rename(src, dst)) {
        f.rename(old, dst)
        throw new java.io.IOException(s"could not swap in merged $dst")
      }
    }
    if (retireDisplaced && !erasure) retireOrDelete(fact, oldRoot)
    else f.delete(oldRoot, true)
    f.delete(tmp, true)
  }

  /** Targeted erasure by business key (the GDPR/CCPA "right to be
    * forgotten" at warehouse scale): every row whose `keyCol` matches
    * `keys` is removed by rewriting ONLY the `year` partitions that
    * contain such rows — the deletion analog of [[merge]]'s
    * partition-scoped upsert, sharing its staged-rename swap (readers
    * never see a partial partition). Crash windows are covered by
    * [[vacuum]], which rolls an interrupted purge FORWARD from the
    * purge-specific staging (`<fact>.purge`/`<fact>.purge.old` + year
    * marker) — never backward: restoring a displaced partition would
    * resurrect the rows erasure was removing. A partition whose every
    * row matches is deleted outright.
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
    read(fact).foreach { df =>
      val years = df.filter(col(keyCol).isin(keys: _*))
        .select(col("year").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq
      if (years.nonEmpty) {
        val kept = df.filter(col("year").isin(years: _*) &&
          !coalesce(col(keyCol).isin(keys: _*), lit(false)))
        swapYearPartitions(fact, kept, years, retireDisplaced = false,
          erasure = true)
        scrubRetired(fact, years)
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
    read(fact).foreach { df =>
      val kd = keys.distinct()
      val years = df.join(kd, df(keyCol) === kd(keyName), "left_semi")
        .select(col("year").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq
      if (years.nonEmpty) {
        val kept = df.filter(col("year").isin(years: _*))
          .join(kd, df(keyCol) === kd(keyName), "left_anti")
        swapYearPartitions(fact, kept, years, retireDisplaced = false,
          erasure = true)
        scrubRetired(fact, years)
      }
    }
  }

  private def write(df: DataFrame, mode: SaveMode, fact: String): Unit =
    df.write.partitionBy("year").mode(mode).parquet(path(fact).toString)

  /** Atomically-ish replace a fact directory with a rewritten DataFrame:
    * write to the sibling `<fact>.tmp`, swap via FS rename, fail loudly if
    * the swap cannot complete (never silently lose the table). Every
    * rewrite stages under that one name, which [[vacuum]] rolls forward. */
  private def replaceWith(fact: String, df: DataFrame,
      writeOpts: Map[String, String] = Map.empty,
      keepLayout: Boolean = false): Unit = {
    val target = path(fact)
    val tmp = new Path(target.getParent, target.getName + ".tmp")
    val old = new Path(target.getParent, target.getName + ".old")
    val f = fs
    if (f.exists(tmp)) f.delete(tmp, true)
    // keepLayout: the caller pre-arranged the partitioning/ordering (e.g.
    // optimize's range clustering) — the default year repartition would
    // destroy exactly what the rewrite exists to create
    val arranged = if (keepLayout) df else df.repartition(col("year"))
    var w = arranged.write.partitionBy("year")
    writeOpts.foreach { case (k, v) => w = w.option(k, v) }
    w.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // schema file STAGED INSIDE tmp: the rename below swaps data + schema
    // as one unit, so no crash point can pair new files with a stale schema
    storeSchemaAt(new Path(tmp, "_schema.json"), allNullable(df.schema))
    if (f.exists(old)) f.delete(old, true)
    if (f.exists(target) && !f.rename(target, old))
      throw new java.io.IOException(s"could not stage out $target")
    if (!f.rename(tmp, target)) {
      // roll back so the table is never lost
      f.rename(old, target)
      throw new java.io.IOException(s"could not swap in rewritten $target")
    }
    // table metadata living INSIDE the fact dir (tags, retired snapshots)
    // rides along to the rewritten tree before the old tree is retired —
    // a rewrite must never orphan the pins
    Seq("_tags", "_retired").foreach { meta =>
      val src = new Path(old, meta)
      if (f.exists(src)) f.rename(src, new Path(target, meta))
    }
    retireOrDelete(fact, old)
  }

  /** Crash recovery + janitor for the staged-rename protocols. Every
    * mutation here (append-rewrite, overwrite, compact, merge) stages
    * sibling dirs and swaps via rename; a crash inside a swap window can
    * leave (a) the whole fact renamed out to `<fact>.old` with the
    * complete rewrite still in `<fact>.tmp` (replaceWith renames the
    * live dir away only AFTER the staged write fully succeeded), or (b)
    * individual partitions displaced to `<fact>.merge.old/year=Y`
    * (merge), or (c) a purge mid-swap with staging in `<fact>.purge` /
    * `<fact>.purge.old`. vacuum restores readability — roll the staged
    * copy in for (a), the displaced partitions back for (b), and the
    * purge FORWARD for (c) (restoring purge-displaced partitions would
    * resurrect erased rows) — then deletes all leftover staging. After a
    * crashed merge, re-running the same merge batch completes it (merge
    * is idempotent per partition). Safe to run any time; a no-op on a
    * healthy fact. */
  def vacuum(fact: String): Unit = {
    val f = fs
    val target = path(fact)
    val old = new Path(target.getParent, target.getName + ".old")
    val staged = new Path(target.getParent, target.getName + ".tmp")
    if (!f.exists(target)) {
      // crashed between the two replaceWith renames: prefer the staged
      // rewrite (it is complete by protocol), else the displaced original
      if (f.exists(staged)) f.rename(staged, target)
      else if (f.exists(old)) f.rename(old, target)
    }
    // crashed mid-merge partition swap: restore displaced partitions the
    // swap-in never replaced
    val mergeOld = new Path(target.getParent, target.getName + ".merge.old")
    if (f.exists(mergeOld)) {
      f.listStatus(mergeOld).foreach { st =>
        val dst = new Path(target, st.getPath.getName)
        if (!f.exists(dst)) f.rename(st.getPath, dst)
      }
    }
    // crashed mid-PURGE partition swap: roll FORWARD, never back — the
    // displaced copies in `<fact>.purge.old` contain the very rows the
    // purge was erasing, so the merge-style restore above would resurrect
    // them. The marker (written only after the staged purged rewrite fully
    // succeeded) lists the years being swapped; for each: a staged copy
    // still present swaps in (displacing whatever is live — at that point
    // the live dir can only be the old, un-purged copy); a year with
    // neither a staged copy nor a displaced copy was fully-erased and not
    // yet staged out, so its live dir still holds the purged rows — delete
    // it. A year already swapped (displaced copy present, staged copy
    // gone) is left as-is. No marker (crash during the staged write) means
    // the live table was never touched: just clear the staging.
    val purgeTmp = new Path(target.getParent, target.getName + ".purge")
    val purgeOld = new Path(target.getParent, target.getName + ".purge.old")
    val marker = new Path(purgeTmp, "_purge_years.json")
    if (f.exists(marker)) {
      val in = f.open(marker)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val years = txt.stripPrefix("[").stripSuffix("]").split(",")
        .map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
      years.foreach { y =>
        val src = new Path(purgeTmp, s"year=$y")
        val dst = new Path(target, s"year=$y")
        if (f.exists(src)) {
          if (f.exists(dst)) f.delete(dst, true)
          if (!f.rename(src, dst))
            throw new java.io.IOException(
              s"vacuum: could not complete purge swap of $dst")
        } else if (!f.exists(new Path(purgeOld, s"year=$y")) && f.exists(dst)) {
          f.delete(dst, true)
        }
      }
      scrubRetired(fact, years)
    }
    (Seq(staged, old, mergeOld, purgeTmp, purgeOld,
      new Path(target.getParent, target.getName + ".merge")))
      .foreach(p => f.delete(p, true))
  }

  /** Retention: drop whole year partitions (directory deletes — zero
    * rewrite, zero scan; the cheapest possible delete and the reason the
    * partition key should be the retention key). The reference exposes a
    * `delete` command at table granularity only (OLAP.php:385,393 usage);
    * partition retention is its scale-correct refinement. */
  def dropPartitions(fact: String, years: Seq[Long]): Unit = {
    val f = fs
    years.foreach { y => f.delete(new Path(path(fact), s"year=$y"), true) }
  }

  /** Drop the whole fact (the reference's `delete` analog). */
  def drop(fact: String): Unit = {
    fs.delete(path(fact), true)
  }

  /** Compaction (SURVEY §7.4 risk 5): daily appends accumulate one small
    * file per run per partition; periodically rewrite each year partition
    * into few well-sized files. One shuffle by partition key, then a
    * size-capped write. */
  def compact(fact: String, maxRecordsPerFile: Long = 5000000L): Unit =
    read(fact).foreach { df =>
      replaceWith(fact, df, Map("maxRecordsPerFile" -> maxRecordsPerFile.toString))
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
    * fact): pick fact size / healthy file size (~128-512 MB). Same staged
    * rename + vacuum crash-window protocol as compact/merge. Sorting
    * within files additionally tightens row-group statistics and improves
    * run-length/dictionary encoding on the sort key. */
  def optimize(fact: String, sortCols: Seq[String],
      targetFiles: Int = 64): Unit = {
    require(sortCols.nonEmpty, "optimize needs at least one sort column")
    read(fact).foreach { df =>
      val keys = col("year") +: sortCols.map(col)
      val arranged = df.repartitionByRange(targetFiles, keys: _*)
        .sortWithinPartitions(keys: _*)
      replaceWith(fact, arranged, keepLayout = true)
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
    * driver; the interleave is pure codegen bit arithmetic. */
  def zOrderBy(fact: String, colA: String, colB: String,
      targetFiles: Int = 64, bitsPerDim: Int = 16): Unit = {
    require(bitsPerDim >= 1 && bitsPerDim <= 21,
      s"bitsPerDim=$bitsPerDim out of [1, 21] (2*bits must fit a long)")
    read(fact).foreach { df =>
      val b = df.agg(
        min(col(colA).cast("double")), max(col(colA).cast("double")),
        min(col(colB).cast("double")), max(col(colB).cast("double"))).collect()(0)
      val (alo, ahi, blo, bhi) =
        (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
      val top = (1L << bitsPerDim) - 1
      def rank(c: Column, lo: Double, hi: Double): Column =
        if (hi == lo) lit(0L)
        else least(floor((c.cast("double") - lit(lo)) / lit(hi - lo) *
          lit(top.toDouble + 1.0)), lit(top)).cast("long")
      val u = rank(col(colA), alo, ahi)
      val v = rank(col(colB), blo, bhi)
      val z = (0 until bitsPerDim).map { i =>
        shiftleft(shiftright(u, i).bitwiseAND(lit(1L)), 2 * i)
          .bitwiseOR(shiftleft(shiftright(v, i).bitwiseAND(lit(1L)), 2 * i + 1))
      }.reduce(_ bitwiseOR _)
      val arranged = df.withColumn("__z", z)
        .repartitionByRange(targetFiles, col("year"), col("__z"))
        .sortWithinPartitions(col("year"), col("__z"))
        .drop("__z")
      replaceWith(fact, arranged, keepLayout = true)
    }
  }

  // ---------------- snapshot tags (zero-copy dataset pinning) ----------------

  private def tagsDir(fact: String) = new Path(path(fact), "_tags")
  private def retiredDir(fact: String) = new Path(path(fact), "_retired")
  private def tagPath(fact: String, name: String) =
    new Path(tagsDir(fact), s"$name.json")

  /** The tag manifests, without a tag write's staged temp file. */
  private def tagFiles(fact: String): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(tagsDir(fact))) Nil
    else fs.listStatus(tagsDir(fact)).toSeq
      .filter(_.getPath.getName.endsWith(".json"))

  private def hasTags(fact: String): Boolean = tagFiles(fact).nonEmpty

  /** Move a displaced directory tree (year=Y dirs inside) to the fact's
    * retired area when any tag pins this fact; plain delete otherwise.
    * One rename either way — retirement is free at write time. */
  private def retireOrDelete(fact: String, displaced: Path): Unit = {
    val f = fs
    if (!f.exists(displaced)) return
    if (!hasTags(fact)) { f.delete(displaced, true); return }
    f.mkdirs(retiredDir(fact))
    val dest = new Path(retiredDir(fact),
      java.util.UUID.randomUUID().toString)
    if (!f.rename(displaced, dest))
      throw new java.io.IOException(s"could not retire $displaced")
  }

  /** Erasure scrub: delete retired copies of the given year partitions
    * (purge must not leave forgotten rows alive in pinned snapshots —
    * the legal requirement outranks reproducibility; tags referencing
    * the scrubbed files fail loudly at [[readTag]] time). */
  private def scrubRetired(fact: String, years: Seq[Long]): Unit = {
    val f = fs
    if (!f.exists(retiredDir(fact))) return
    f.listStatus(retiredDir(fact)).filter(_.isDirectory).foreach { root =>
      years.foreach { y =>
        f.delete(new Path(root.getPath, s"year=$y"), true)
      }
    }
  }

  /** Pin the fact's CURRENT file set under a name — a zero-copy dataset
    * snapshot (one listing + one small manifest write; no data moves).
    * The reproducibility primitive a training pipeline needs: record the
    * tag next to the model run, and [[readTag]] re-reads byte-identical
    * input even after appends, compaction, layout optimization, or
    * merges — rewrites RETIRE displaced files into `_retired/` instead
    * of deleting them while any tag exists (same idea as Iceberg/Delta
    * snapshot isolation, carried by plain parquet + manifests).
    *
    * Lifecycle: [[expireTag]] drops the pin; [[vacuumRetired]] reclaims
    * retired storage no remaining tag references. Out of scope by
    * contract: [[dropPartitions]]/[[drop]] delete outright (tags break),
    * [[purgeKeys]] scrubs retired copies of affected partitions
    * (erasure outranks reproducibility), and a crash between a rewrite's
    * swap and its retire step can lose pinned files ([[vacuum]] prefers
    * table health) — all three fail loudly at read time, never
    * silently. */
  def tag(fact: String, name: String): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"bad tag name: $name")
    require(exists(fact), s"no such fact: $fact")
    val files = dataFiles(fact)
      .map(p => s"${p.getParent.getName}/${p.getName}")
    val schema = storedSchema(fact)
      .getOrElse(read(fact).get.schema)
    writeMeta(tagPath(fact, name), (schema.json +: files).mkString("\n"))
  }

  /** All tag names pinned on the fact. */
  def tags(fact: String): Seq[String] =
    tagFiles(fact).map(_.getPath.getName.stripSuffix(".json")).sorted

  /** Drop a pin. Retired files it alone referenced become reclaimable by
    * [[vacuumRetired]]. */
  def expireTag(fact: String, name: String): Unit = {
    fs.delete(tagPath(fact, name), false)
    ()
  }

  private def tagContent(fact: String, name: String):
      (org.apache.spark.sql.types.StructType, Seq[String]) = {
    val p = tagPath(fact, name)
    require(fs.exists(p), s"no such tag '$name' on fact '$fact'")
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val lines = txt.split("\n").toSeq
    (org.apache.spark.sql.types.DataType.fromJson(lines.head)
      .asInstanceOf[org.apache.spark.sql.types.StructType],
      lines.tail.filter(_.nonEmpty))
  }

  /** Read the EXACT file set a tag pinned — the dataset as it was at
    * [[tag]] time, whatever has been appended, compacted, optimized, or
    * merged since. Files resolve live-first, then in the retired area;
    * a file found in neither (vacuumed after expire, purged, or lost in
    * a crash window) fails with a precise message. Driver work is
    * manifest-scale (one path resolution per pinned file); the data
    * read is direct parquet scans of exactly those files. */
  def readTag(fact: String, name: String): DataFrame = {
    val (schema, rels) = tagContent(fact, name)
    val f = fs
    val retiredRoots: Seq[Path] =
      if (!f.exists(retiredDir(fact))) Nil
      else f.listStatus(retiredDir(fact)).filter(_.isDirectory)
        .map(_.getPath).toSeq
    val resolved: Seq[(Long, String)] = rels.map { rel =>
      val year = rel.takeWhile(_ != '/').stripPrefix("year=").toLong
      val live = new Path(path(fact), rel)
      val p =
        if (f.exists(live)) live
        else retiredRoots.map(r => new Path(r, rel)).find(f.exists)
          .getOrElse(throw new java.io.IOException(
            s"tag '$name' of fact '$fact': pinned file $rel no longer " +
              "exists (vacuumed after expire, purged, or dropped)"))
      (year, p.toString)
    }
    // partition values come from the manifest, not dir inference (the
    // retired tree nests under an underscore dir Spark would not list)
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == "year"))
    if (resolved.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else resolved.groupBy(_._1).toSeq.sortBy(_._1).map { case (y, fl) =>
      spark.read.schema(dataSchema).parquet(fl.map(_._2): _*)
        .withColumn("year", lit(y))
    }.reduce(_ unionByName _)
  }

  /** Reclaim retired storage no remaining tag references (run after
    * [[expireTag]]). Walks the retired manifest-scale listing, never
    * reads data. */
  def vacuumRetired(fact: String): Unit = {
    val f = fs
    if (!f.exists(retiredDir(fact))) return
    val pinned: Set[String] =
      tags(fact).flatMap(t => tagContent(fact, t)._2).toSet
    f.listStatus(retiredDir(fact)).filter(_.isDirectory).foreach { root =>
      f.listStatus(root.getPath).foreach { sub =>
        if (sub.isDirectory && sub.getPath.getName.startsWith("year=")) {
          f.listStatus(sub.getPath).foreach { st =>
            val rel = s"${sub.getPath.getName}/${st.getPath.getName}"
            if (!pinned.contains(rel)) f.delete(st.getPath, false)
          }
          if (f.listStatus(sub.getPath).isEmpty) f.delete(sub.getPath, true)
        } else f.delete(sub.getPath, true) // _schema.json etc.: never pinned
      }
      if (f.listStatus(root.getPath).isEmpty) f.delete(root.getPath, true)
    }
    if (f.listStatus(retiredDir(fact)).isEmpty) f.delete(retiredDir(fact), true)
  }

  /** Retention-age policy over the reproducibility area — the time-based
    * analog of [[dropPartitions]]: expire every tag whose manifest is
    * older than `maxAgeDays` (filesystem mtime — set at [[tag]] time and
    * never touched again), then reclaim the retired storage nothing still
    * pins. Run it on the same janitor cadence as [[compact]]; without it
    * a long-lived fact's `_retired/` grows monotonically as forgotten
    * tags pin every rewrite's displaced files forever. `nowMillis` is
    * injectable for tests/backfills. Returns the expired tag names. */
  def expireTags(fact: String, maxAgeDays: Int,
      nowMillis: Long = System.currentTimeMillis()): Seq[String] = {
    require(maxAgeDays >= 0, s"maxAgeDays must be >= 0, got $maxAgeDays")
    val cutoff = nowMillis - maxAgeDays * 86400000L
    val old = tagFiles(fact).filter(_.getModificationTime < cutoff)
      .map(_.getPath.getName.stripSuffix(".json")).sorted
    old.foreach(expireTag(fact, _))
    if (old.nonEmpty) vacuumRetired(fact)
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
    * input_file_name() strings and the reader's listing, so the two
    * sides can never disagree on form. */
  private def normFile(s: String): String = {
    val u = new Path(s).toUri
    Option(u.getAuthority).getOrElse("") + u.getPath
  }

  /** Build/refresh the fact's zone map: per-FILE min/max of `cols`,
    * persisted as one small JSON-lines manifest (`_stats.json`, underscore
    * = invisible to parquet listings). This is what makes a selective
    * predicate on a NON-partition column skip files without touching
    * them: parquet footers already carry these ranges, but Spark must
    * still list and open every footer to use them — at 100 TB that is
    * millions of S3 reads before the first data byte. The manifest costs
    * one aggregation scan to build (run it after [[optimize]], whose
    * range-clustering makes the per-file ranges disjoint and the skipping
    * sharp) and one small-file read per query to use — the same
    * manifest-statistics idea Iceberg/Delta attach to their commit logs.
    * One row per data file, aggregated distributed, collected only at
    * manifest scale. */
  def collectStats(fact: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "collectStats needs at least one column")
    read(fact).foreach(df => writeStats(fact, df, cols, Nil))
  }

  /** Incremental manifest refresh after appends: scan ONLY the data
    * files the manifest does not cover yet and merge their rows in —
    * the daily-append cadence never re-reads the settled bulk of the
    * fact. Entries for files a rewrite (compact/optimize/merge) removed
    * are harmless — pruning intersects the manifest with the CURRENT
    * listing — and a rewrite makes every file new, so the refresh
    * naturally degrades to a full rebuild. Falls back to a full rebuild
    * when the manifest is absent or covers different columns. */
  def refreshStats(fact: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "refreshStats needs at least one column")
    if (!fs.exists(statsPath(fact))) { collectStats(fact, cols); return }
    val oldLines = manifestLines(fact)
    val stats = parseManifest(oldLines)
    val covered = ("file" +: cols.flatMap(c => Seq(s"min_$c", s"max_$c")))
      .forall(stats.schema.fieldNames.contains)
    if (!covered) { collectStats(fact, cols); return }
    val known = stats.select(col("file")).collect()
      .map(r => normFile(r.getString(0))).toSet
    val newFiles = dataFiles(fact).map(_.toString)
      .filterNot(p => known.contains(normFile(p)))
    if (newFiles.isEmpty) return
    val reader = spark.read.option("basePath", path(fact).toString)
    val df = storedSchema(fact).map(reader.schema).getOrElse(reader)
      .parquet(newFiles: _*)
    writeStats(fact, df, cols, oldLines)
  }

  private def writeStats(fact: String, df: DataFrame, cols: Seq[String],
      keepLines: Seq[String]): Unit = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    // file keys stay RAW here; normFile canonicalizes both the
    // manifest values and the listing at read time, one code path
    val rows = df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .select(to_json(struct(col("*"))).as("j"))
      .collect().map(_.getString(0))
    writeMeta(statsPath(fact), (keepLines ++ rows).mkString("\n"))
  }

  private def manifestLines(fact: String): Seq[String] = {
    val in = fs.open(statsPath(fact))
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    txt.split("\n").toSeq.filter(_.nonEmpty)
  }

  private def parseManifest(lines: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.json(spark.createDataset(lines))
  }

  /** All current data files of the fact (partition dirs only). */
  private def dataFiles(fact: String): Seq[Path] = {
    val f = fs
    f.listStatus(path(fact)).filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("year="))
      .flatMap(d => f.listStatus(d.getPath)).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath)
  }

  /** Read the fact restricted to `lo <= column <= hi`, skipping every
    * file whose zone-map range cannot overlap the interval. EXACT under
    * stale stats: files newer than the manifest (or with null ranges)
    * have no entry and are always read, and the row-level predicate is
    * re-applied after the file-level skip — stats can only remove
    * provably-empty scans, never rows. Falls back to a plain filtered
    * read when no manifest exists. */
  def readRange(fact: String, column: String, lo: Any, hi: Any): Option[DataFrame] =
    read(fact).map { full =>
      val pred = col(column) >= lit(lo) && col(column) <= lit(hi)
      if (!fs.exists(statsPath(fact))) full.filter(pred)
      else filesForRange(fact, column, lo, hi) match {
        case Nil => full.filter(pred).limit(0)
        case files =>
          val reader = spark.read.option("basePath", path(fact).toString)
          storedSchema(fact).map(reader.schema).getOrElse(reader)
            .parquet(files: _*).filter(pred)
      }
    }

  /** Files a [[readRange]] over the interval would scan (also the
    * observability hook the pruning specs assert against): every current
    * data file EXCEPT those whose manifest range is provably disjoint
    * from [lo, hi] — unlisted (newer-than-manifest) and null-range files
    * always survive. */
  def filesForRange(fact: String, column: String, lo: Any, hi: Any): Seq[String] =
    if (!fs.exists(statsPath(fact))) dataFiles(fact).map(_.toString)
    else {
      // the underscore prefix hides the manifest from Spark's file
      // listings (that's the point) — load bytes via the FS API
      val stats = parseManifest(manifestLines(fact))
      // a manifest that does not cover `column` (collected for other
      // columns, or empty) can prune nothing — full listing, same
      // contract as no manifest at all
      val covered = Seq("file", s"min_$column", s"max_$column")
        .forall(stats.schema.fieldNames.contains)
      if (!covered) dataFiles(fact).map(_.toString)
      else {
        val disjoint = coalesce(col(s"max_$column") < lit(lo), lit(false)) ||
          coalesce(col(s"min_$column") > lit(hi), lit(false))
        val pruned = stats.filter(disjoint).select(col("file"))
          .collect().map(r => normFile(r.getString(0))).toSet
        dataFiles(fact).map(_.toString)
          .filter(p => !pruned.contains(normFile(p)))
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

  /** Incremental manifest refresh after appends: scan only the data
    * files the manifest does not cover (same cadence contract as
    * [[refreshStats]]). A manifest built with different column/bits/k
    * parameters is rebuilt from scratch. */
  def refreshBloom(fact: String, column: String, bits: Int = 1 << 13,
      k: Int = 4): Unit = {
    if (!fs.exists(bloomPath(fact))) { collectBloom(fact, column, bits, k); return }
    val entries = bloomEntries(fact)
    val compatible = entries.forall(e =>
      e.col == column && e.bits == bits && e.k == k)
    if (!compatible) { collectBloom(fact, column, bits, k); return }
    val known = entries.map(e => normFile(e.file)).toSet
    val newFiles = dataFiles(fact).map(_.toString)
      .filterNot(p => known.contains(normFile(p)))
    if (newFiles.isEmpty) return
    val reader = spark.read.option("basePath", path(fact).toString)
    val df = storedSchema(fact).map(reader.schema).getOrElse(reader)
      .parquet(newFiles: _*)
    writeBloom(fact, df, column, bits, k, manifestLines0(bloomPath(fact)))
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

  private def manifestLines0(at: Path): Seq[String] = {
    val in = fs.open(at)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    txt.split("\n").toSeq.filter(_.nonEmpty)
  }

  private def bloomEntries(fact: String): Seq[BloomEntry] = {
    val df = parseManifest(manifestLines0(bloomPath(fact)))
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

  /** Files an equality probe `column = value` must scan: every current
    * data file EXCEPT those proven empty by EITHER sidecar — the bloom
    * filter (membership) or the zone map (range [value, value]); the
    * sharper manifest wins, and a clustered layout prunes by range even
    * when its bloom is saturated. Files either manifest doesn't cover
    * (newer than the last refresh) and facts with no/incompatible
    * manifests always return the full listing — skipping is an
    * optimization, never a filter. */
  def filesForEquals(fact: String, column: String, value: Any): Seq[String] = {
    val key = sparkKeyString(value)
    val inRange = filesForRange(fact, column, value, value).toSet
    val all = dataFiles(fact).map(_.toString).filter(inRange.contains)
    if (!fs.exists(bloomPath(fact))) return all
    val entries = bloomEntries(fact).filter(_.col == column)
    if (entries.isEmpty) return all
    val absent = entries.filterNot(e =>
        graft.ext.BloomJoin.mightContain(key, e.words, e.bits, e.k))
      .map(e => normFile(e.file)).toSet
    all.filter(p => !absent.contains(normFile(p)))
  }

  /** Read the fact restricted to `column = value`, skipping every file
    * either sidecar (bloom membership, zone-map range) proves empty.
    * EXACT under stale manifests: uncovered files are always read and
    * the row-level predicate is re-applied after the file-level skip. */
  def readEquals(fact: String, column: String, value: Any): Option[DataFrame] =
    prunedRead(fact, col(column) === lit(value),
      filesForEquals(fact, column, value))

  /** Files an IN-list probe must scan: a file survives if EITHER
    * sidecar admits ANY of the values (union of the per-value survivor
    * sets, each the bloom ∩ zone-map intersection, from one manifest
    * read). Same exactness contract as [[filesForEquals]]. */
  def filesForIn(fact: String, column: String, values: Seq[Any]): Seq[String] = {
    require(values.nonEmpty, "filesForIn needs at least one value")
    val keys = values.map(sparkKeyString)
    val inRange = values.map(v => filesForRange(fact, column, v, v).toSet)
      .reduce(_ ++ _)
    val all = dataFiles(fact).map(_.toString).filter(inRange.contains)
    if (!fs.exists(bloomPath(fact))) return all
    val entries = bloomEntries(fact).filter(_.col == column)
    if (entries.isEmpty) return all
    val absent = entries.filterNot(e => keys.exists(k =>
        graft.ext.BloomJoin.mightContain(k, e.words, e.bits, e.k)))
      .map(e => normFile(e.file)).toSet
    all.filter(p => !absent.contains(normFile(p)))
  }

  /** Read the fact restricted to `column IN (values)` with bloom file
    * skipping — the multi-tenant/point-lookup batch form. */
  def readIn(fact: String, column: String, values: Seq[Any]): Option[DataFrame] = {
    require(values.nonEmpty, "readIn needs at least one value")
    prunedRead(fact, col(column).isin(values: _*),
      filesForIn(fact, column, values))
  }

  private def prunedRead(fact: String, pred: Column,
      files: => Seq[String]): Option[DataFrame] =
    read(fact).map { full =>
      // no sidecar at all -> the thunk returns the full listing anyway;
      // short-circuit to the plain filtered read (no per-file binding)
      if (!fs.exists(bloomPath(fact)) && !fs.exists(statsPath(fact)))
        full.filter(pred)
      else files match {
        case Nil => full.filter(pred).limit(0)
        case fs0 =>
          val reader = spark.read.option("basePath", path(fact).toString)
          storedSchema(fact).map(reader.schema).getOrElse(reader)
            .parquet(fs0: _*).filter(pred)
      }
    }
}
