package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{FoundNodePolicy, Weave}
import graft.time.Interval

/** Findings history table management (SURVEY §7.1-3) — the Spark-first
  * replacement for the reference's Gremlin write path (S11
  * `addFoundNode`, Spider.hs:131-158) and `clearAll` (S12):
  *
  *  - storage is an APPEND-ONLY parquet table partitioned by the UTC
  *    date of `epoch_ms` — the VNode/VFoundNode/edge decomposition is a
  *    Gremlin storage artifact and is NOT replicated; nodes are a
  *    derived view;
  *  - "get-or-make node" upserts disappear: appends are blind (no
  *    round-trips — the reference's slow-insert problem, CLI.hs:85-88),
  *    and identity is resolved at read time;
  *  - interval reads prune partitions via the `day` partition column
  *    AND push the ms-range filter to the scan.
  *
  * At 100 TB: date partitioning bounds every interval query to its
  * partitions; within a partition, parquet row-group stats on epoch_ms
  * prune further. Compaction/bucketing by subject is an optional layout
  * refinement for subject-heavy workloads.
  */
object History {

  /** Append findings (canonical schema) to the history table. */
  def append(findings: DataFrame, tableDir: String): Unit =
    findings
      .withColumn("day", to_date(timestamp_millis(col("epoch_ms"))))
      .write.partitionBy("day").mode(SaveMode.Append).parquet(tableDir)

  /** Batch-id ledger directory (underscore-prefixed: parquet directory
    * scans ignore the whole subtree). One tiny marker file per applied
    * micro-batch; its EXISTENCE is the commit point of
    * [[appendBatch]]. */
  private val AppliedBatchesDir = "_applied_batches"

  /** Data files written by [[appendBatch]] carry a `b<batchId>-` name
    * prefix; returns the id when `name` is such a file. */
  private def batchIdOf(name: String): Option[Long] =
    if (name.startsWith("b")) {
      val dash = name.indexOf('-')
      if (dash > 1) name.substring(1, dash).toLongOption else None
    } else None

  /** IDEMPOTENT per-epoch append — the exactly-once commit for the
    * streaming history sink. Structured Streaming's foreachBatch
    * replays an uncommitted epoch with the SAME batchId and the same
    * rows after a crash; a blind [[append]] then double-counts the
    * replay, which PolicyOverwrite/KeepN dedup at read but
    * PolicyAppend (Query.hs:82-101 semantics — every finding
    * contributes) cannot. This commit makes the replay a no-op:
    *
    *  1. marker `_applied_batches/<batchId>` exists → the epoch is
    *     fully applied; drop any stale staging and return;
    *  2. stage the batch day-partitioned under
    *     `.batch_staging_<batchId>` (Overwrite: a crashed attempt's
    *     partial staging is replaced wholesale);
    *  3. scrub `b<batchId>-*` data files from exactly the day
    *     partitions the staging touches — the leftovers of a crashed
    *     attempt that died mid-move (the replayed epoch stages
    *     identical rows, so the touched-day set is identical);
    *  4. move staged files in under `b<batchId>-`-prefixed names
    *     (rename results checked — a failed move throws before the
    *     marker could claim the epoch);
    *  5. publish the marker (temp write + rename, atomic with
    *     content), then drop the staging dir.
    *
    * Any crash point replays to the same multiset: before the marker
    * the whole epoch redoes (scrub makes the redo exact); after it the
    * epoch is skipped. [[compact]] excludes data files of UNapplied
    * batch ids from its rewrite snapshot, so a compaction racing a
    * crashed writer can never fold half an epoch into a compacted file
    * the scrub can no longer see. The ledger grows one ~empty file per
    * epoch — prune it alongside checkpoint retention if it ever
    * matters. */
  def appendBatch(findings: DataFrame, tableDir: String,
      batchId: Long): Unit = {
    val spark = findings.sparkSession
    val root = new org.apache.hadoop.fs.Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markerDir = new org.apache.hadoop.fs.Path(root, AppliedBatchesDir)
    val marker = new org.apache.hadoop.fs.Path(markerDir, batchId.toString)
    val staging = new org.apache.hadoop.fs.Path(
      root, s".batch_staging_$batchId")
    if (fs.exists(marker)) {
      if (fs.exists(staging)) fs.delete(staging, true)
      return
    }
    findings
      .withColumn("day", to_date(timestamp_millis(col("epoch_ms"))))
      .write.partitionBy("day").mode(SaveMode.Overwrite)
      .parquet(staging.toString)
    val stagedDays = fs.listStatus(staging)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
    stagedDays.foreach { d =>
      val target = new org.apache.hadoop.fs.Path(root, d.getPath.getName)
      if (fs.exists(target))
        fs.listStatus(target).filter(_.isFile)
          .filter(f => batchIdOf(f.getPath.getName).contains(batchId))
          .foreach(f => fs.delete(f.getPath, false))
    }
    stagedDays.foreach { d =>
      val target = new org.apache.hadoop.fs.Path(root, d.getPath.getName)
      fs.mkdirs(target)
      dataFiles(fs, d.getPath).foreach { f =>
        val dest = new org.apache.hadoop.fs.Path(
          target, s"b$batchId-${f.getName}")
        if (!fs.rename(f, dest))
          throw new java.io.IOException(
            s"failed to move staged batch file $f into $target; " +
              "the epoch stays unclaimed and will replay")
      }
    }
    fs.mkdirs(markerDir)
    writeTextFile(fs, marker,
      stagedDays.map(_.getPath.getName).sorted.mkString("\n") + "\n")
    fs.delete(staging, true)
    ()
  }

  /** S12 clearAll. */
  def clear(spark: SparkSession, tableDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Read findings within an interval; the day partition filter derived
    * from the ms bounds prunes whole partitions before the scan.
    * Layout-aware: a z-ordered dir ([[writeZOrdered]]) has no `day=`
    * partitions — there the interval predicate alone pushes to the scan
    * and the z-sort makes the per-file epoch_ms min/max stats tight, so
    * row-group pruning replaces partition pruning. The schema is the one
    * `spark.read.parquet(tableDir)` infers, read from a parquet footer
    * on the driver ([[readParquet]]), so building the read runs no
    * Spark job. */
  def read(spark: SparkSession, tableDir: String,
      interval: Interval = Interval.whole): DataFrame = {
    val df = committedBase(spark, tableDir)
    val hasDay = df.columns.contains("day")
    val withMs =
      if (interval.isWhole) df
      else {
        val pruned =
          if (!hasDay) df
          else (interval.lower.ms, interval.upper.ms) match {
            case (lo, hi) =>
              val loD = lo.map(ms => col("day") >=
                to_date(timestamp_millis(lit(ms))))
              val hiD = hi.map(ms => col("day") <=
                to_date(timestamp_millis(lit(ms))))
              (loD ++ hiD).foldLeft(df)((d, p) => d.filter(p))
          }
        pruned.filter(interval.predicate(col("epoch_ms")))
      }
    if (hasDay) withMs.drop("day") else withMs
  }

  /** Base frame for [[read]] — READ COMMITTED w.r.t. the
    * [[appendBatch]] epoch protocol. A torn epoch (a streaming writer
    * crashed — or still mid-move — between staging and marker publish)
    * always leaves its `.batch_staging_<id>` dir in place: the dir is
    * deleted only AFTER the marker commits. So ONE root listing decides
    * whether any filtering is needed; the common no-torn-epoch case
    * stays the plain directory scan. When torn ids exist, data files
    * are enumerated explicitly and the torn epochs' `b<id>-` files
    * excluded (basePath keeps the `day` partition column), so a batch
    * reader never observes a partially-moved epoch — previously the
    * scrub made the replay exact but the pre-replay window was
    * read-uncommitted. The listing cost is paid only while a torn or
    * in-flight epoch exists, and equals the listing the scan's own
    * file index performs anyway. */
  private def committedBase(spark: SparkSession,
      tableDir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tornIds: Set[Long] =
      if (!fs.exists(root)) Set.empty
      else {
        val stagingIds = fs.listStatus(root).toSeq
          .filter(_.isDirectory).map(_.getPath.getName)
          .filter(_.startsWith(".batch_staging_"))
          .flatMap(_.stripPrefix(".batch_staging_").toLongOption).toSet
        if (stagingIds.isEmpty) Set.empty
        else {
          val md = new org.apache.hadoop.fs.Path(root, AppliedBatchesDir)
          val applied =
            if (fs.exists(md))
              fs.listStatus(md).toSeq
                .flatMap(_.getPath.getName.toLongOption).toSet
            else Set.empty[Long]
          stagingIds -- applied
        }
      }
    if (tornIds.isEmpty) readParquet(spark, Seq(tableDir))
    else {
      val entries = fs.listStatus(root).toSeq
      val dayFiles = entries
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
        .flatMap(s => dataFiles(fs, s.getPath))
      val rootFiles = entries.filter(_.isFile).map(_.getPath)
        .filterNot(p =>
          p.getName.startsWith("_") || p.getName.startsWith("."))
      val keep = (rootFiles ++ dayFiles)
        .filterNot(p => batchIdOf(p.getName).exists(tornIds.contains))
      if (keep.isEmpty)
        // only torn files exist: keep their schema, show no rows
        readParquet(spark, Seq(tableDir)).where(lit(false))
      else
        readParquet(spark, keep.map(_.toString), Some(tableDir))
    }
  }

  /** `spark.read.parquet(paths: _*)` (with `basePath` when given) that
    * declares the schema Spark's inference would find instead of
    * inferring it: inference runs one Spark job per read, the footer
    * read here runs none. Partition discovery still adds the partition
    * columns (`day`). Where [[footerSchema]] declines (no data file, a
    * summary file, mergeSchema over many files) the read infers as
    * before, so a directory with no data file fails as before. */
  private[graft] def readParquet(spark: SparkSession, paths: Seq[String],
      basePath: Option[String] = None): DataFrame = {
    val reader = basePath.foldLeft(spark.read)(_.option("basePath", _))
    footerSchema(spark, paths).fold(reader)(reader.schema).parquet(paths: _*)
  }

  /** The data schema parquet inference gives `paths`
    * (`ParquetUtils.inferSchema`), read from footers on the driver: of
    * the leaf files a file index lists (hidden `_`/`.` names skipped), in
    * path order, the first, or with `spark.sql.parquet.mergeSchema` on
    * every one, merged in that order. Footers convert through Spark's
    * own reader and converter, configured as inference configures them.
    * None, so that the read infers, when there is no data file, when a
    * parquet summary file (`_metadata`, `_common_metadata`) is listed, or
    * when mergeSchema is on and respects summaries or the files outnumber
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`: there
    * Spark merges the footers in a parallel job, and reading them one by
    * one here would cost more as the file count grows. */
  private def footerSchema(spark: SparkSession,
      paths: Seq[String]): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
    import org.apache.spark.sql.execution.datasources.parquet._
    val conf = spark.sessionState.conf
    val hadoop = spark.sessionState.newHadoopConf()
    def summary(name: String) =
      name.startsWith("_metadata") || name.startsWith("_common_metadata")
    // InMemoryFileIndex's rule for the names it lists
    def listed(name: String) = summary(name) ||
      !((name.startsWith("_") && !name.contains("=")) ||
        name.startsWith(".") || name.endsWith("._COPYING_"))
    def leaves(fs: FileSystem, s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filter(c => listed(c.getPath.getName)).flatMap(leaves(fs, _))
    val files = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hadoop)
      if (fs.exists(path)) leaves(fs, fs.getFileStatus(path)) else Nil
    }.sortBy(_.getPath.toString)
    val merge = conf.isParquetSchemaMergingEnabled
    if (files.isEmpty || files.exists(f => summary(f.getPath.getName)) ||
        (merge && (conf.isParquetSchemaRespectSummaries ||
          files.size > conf.parallelPartitionDiscoveryThreshold)))
      return None
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        conf.parquetReaderRespectUnknownTypeAnnotation)
    (if (merge) files else files.take(1)).map { f =>
      val footer = ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, hadoop),
        org.apache.parquet.format.converter.ParquetMetadataConverter
          .SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(f.getPath, footer), converter)
    }.reduceOption(org.apache.spark.sql.graftshim.Shim.mergeSchemas(
      _, _, conf.caseSensitiveAnalysis))
  }

  /** True iff `name` resolves to a catalog table whose bucketing spec
    * covers `subject` — the layout [[appendBucketed]] writes. Paths and
    * unknown tables return false. */
  def isBucketedTable(spark: SparkSession, name: String): Boolean =
    scala.util.Try {
      spark.catalog.tableExists(name) && {
        val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
        spark.sessionState.catalog.getTableMetadata(ident)
          .bucketSpec.exists(_.bucketColumnNames.contains("subject"))
      }
    }.getOrElse(false)

  /** Policy-retained view (P2 applied at read). */
  def readRetained(spark: SparkSession, tableDir: String,
      interval: Interval, policy: FoundNodePolicy): DataFrame =
    Weave.retainFindings(read(spark, tableDir, interval), policy)

  /** Small-file compaction for the append-only history table. Every
    * streaming/CLI append writes one parquet file per write task per day
    * that task holds rows for — several files per batch per day, since
    * a batch's rows are spread over its scan's tasks; after N appends an
    * interval read opens at least N files per partition —
    * the classic small-file tax (driver listing + per-file open cost
    * dominate the actual scan at 100 TB). Rewrites each day partition
    * into one file via a staging directory + atomic-ish
    * swap: write staged, move old out, move staged in, delete old —
    * readers never see a partially-compacted partition directory.
    * Content is unchanged (byte-for-byte row multiset).
    *
    * Crash safety AND late-arrival safety: the swap is a
    * manifest-reconciled exchange, not a blind delete. Each day is
    * compacted from an explicit SNAPSHOT of its data files (captured
    * in one listing, read by explicit path); immediately after the
    * partition is claimed (rename(day, old)) the snapshot's file
    * names are persisted as a `_compact_inputs` manifest INSIDE the
    * old dir. When the staged rewrite is swapped in, any file found
    * under `old` that is NOT in the manifest — an at-least-once
    * replay or a late event-time append that landed between the
    * snapshot and the claim (History.append partitions by EVENT day,
    * so a closed day can still legally receive data) — is MOVED BACK
    * into the day dir instead of being deleted with the rewritten
    * originals. The manifest's position makes every crash state
    * unambiguous for the recovery phase that opens each run:
    *  - `old` without a manifest: crash before the manifest write ⇒
    *    the staged data was never swapped in ⇒ restore (day missing:
    *    rename back wholesale; day recreated by a racing append:
    *    move `old`'s files into it — a union, never a duplicate);
    *  - `old` with a manifest: the swap was claimed ⇒ finish it
    *    (complete any partial per-file staged move, then reconcile
    *    non-manifest files back and clear `old`).
    * An append that recreates the day dir INSIDE the swap window is
    * handled by falling back to per-file moves when the directory
    * rename refuses (rename-into-existing semantics differ per
    * FileSystem; return values are checked, never assumed).
    *
    * `beforeDay` remains the operational contract for a LIVE writer
    * (the daily-ops shape at 100 TB: the streaming sink appends while
    * yesterday-and-older compact): pass an ISO date and only `day=`
    * partitions strictly BEFORE it are rewritten. With the reconcile,
    * a replayed or late finding racing a closed-day compact is
    * preserved rather than silently dropped — the manifest converts
    * the race from data loss to an extra small file that the next
    * compact folds in. HistoryLifecycleSpec drives the live-writer
    * interleave plus the crash/late-file states and asserts
    * byte-identical query results and surviving partition pruning. */
  def compact(spark: SparkSession, tableDir: String,
      beforeDay: Option[String] = None): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(tableDir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return
    recoverCrashedCompacts(fs, root)
    val days = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
      // day= names are ISO dates, so the lexicographic compare IS the
      // date compare; the open partition (>= beforeDay) is never swapped
      .filter(s => beforeDay.forall(b =>
        s.getPath.getName.stripPrefix("day=") < b))
      .map(_.getPath)
    // batch files of an UNapplied epoch (a crashed streaming writer's
    // partial move) are invisible to compaction: folding them into a
    // rewrite would put rows where the replay's scrub can't remove
    // them — the replay redoes the epoch, duplicating. They stay as
    // loose files until their epoch commits or its writer scrubs them.
    val appliedIds: Set[Long] = {
      val md = new org.apache.hadoop.fs.Path(root, AppliedBatchesDir)
      if (fs.exists(md))
        fs.listStatus(md).flatMap(_.getPath.getName.toLongOption).toSet
      else Set.empty
    }
    days.foreach { dayPath =>
      // ONE listing is the snapshot: exactly these files are read into
      // the staged rewrite, and exactly these names may be deleted
      val listed = dataFiles(fs, dayPath)
      val snapshot = listed.filterNot(p =>
        batchIdOf(p.getName).exists(id => !appliedIds.contains(id)))
      // a day holding an UNapplied epoch's loose files is skipped
      // WHOLE, not just filtered: claiming it (rename(day, old)) would
      // hide those files from a concurrently replaying writer's scrub,
      // and reconcileOld would later move them back beside the
      // replay's re-written copies — a duplicate. The day folds on the
      // next compact after its epoch commits.
      if (snapshot.nonEmpty && snapshot.size == listed.size) {
        val staged = new org.apache.hadoop.fs.Path(
          root, s".compact_staging_${dayPath.getName}")
        spark.read.parquet(snapshot.map(_.toString): _*)
          .repartition(1)
          .write.mode(SaveMode.Overwrite).parquet(staged.toString)
        val old = new org.apache.hadoop.fs.Path(
          root, s".compact_old_${dayPath.getName}")
        if (!fs.rename(dayPath, old)) {
          // couldn't claim the partition (concurrent actor): abandon
          fs.delete(staged, true)
        } else {
          // the manifest marks the swap as claimed; from here recovery
          // completes FORWARD (underscore-prefixed: parquet ignores it)
          writeTextFile(fs, new org.apache.hadoop.fs.Path(old, ManifestName),
            snapshot.map(_.getName).mkString("\n"))
          // a racing append may have recreated dayPath: local FS then
          // returns false, HDFS returns true but NESTS staged inside
          // it — both land in the per-file fallback
          val renamed = fs.rename(staged, dayPath)
          if (!renamed || fs.exists(
              new org.apache.hadoop.fs.Path(dayPath, staged.getName)))
            stagedFilesIn(fs, staged, dayPath)
          reconcileOld(fs, old, dayPath)
        }
        // drop the _SUCCESS marker so the partition dir holds data only
        val marker = new org.apache.hadoop.fs.Path(dayPath, "_SUCCESS")
        if (fs.exists(marker)) fs.delete(marker, false)
        ()
      }
    }
  }

  private val ManifestName = "_compact_inputs"

  /** The data files of a partition dir: skips subdirs and `_`/`.`
    * markers (the same names a parquet directory scan ignores). */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))

  /** Write `content` so that the file's EXISTENCE at `path` is atomic
    * with its full content: create under a dot-prefixed temp name (both
    * `dataFiles` and parquet scans ignore it), then rename into place.
    * A crash mid-write leaves only the temp — never a partial file at
    * the real name. This matters because the `_compact_inputs`
    * manifest's presence is the swap's commit point: a partial manifest
    * read as claimed would make [[reconcileOld]] move unlisted snapshot
    * originals back beside the staged rewrite, duplicating rows. */
  private def writeTextFile(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, content: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(
      path.getParent, s".${path.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(
        s"atomic publish of $path failed: rename from $tmp refused")
    ()
  }

  /** A `.compact_old_*` dir counts as CLAIMED only when its manifest
    * is present with content — a zero-length file (a crash artifact
    * from a non-atomic writer, or FS weirdness) is treated as
    * unclaimed, so recovery restores rather than reconciles. */
  private def manifestClaimed(fs: org.apache.hadoop.fs.FileSystem,
      old: org.apache.hadoop.fs.Path): Boolean = {
    val m = new org.apache.hadoop.fs.Path(old, ManifestName)
    fs.exists(m) && fs.getFileStatus(m).getLen > 0
  }

  /** Move a staged rewrite's files into the day dir one by one — the
    * fallback when the directory rename refuses (an append recreated
    * the day dir mid-swap) or the FileSystem moved staged INSIDE it
    * (HDFS rename-into-existing semantics). Part-file names are
    * UUID-unique per write, so file moves never collide; idempotent
    * (already-moved files are simply absent from the source). */
  private def stagedFilesIn(fs: org.apache.hadoop.fs.FileSystem,
      staged: org.apache.hadoop.fs.Path,
      dayPath: org.apache.hadoop.fs.Path): Unit = {
    fs.mkdirs(dayPath)
    val nested = new org.apache.hadoop.fs.Path(dayPath, staged.getName)
    Seq(staged, nested).filter(fs.exists(_)).foreach { src =>
      fs.listStatus(src).filter(_.isFile)
        .filterNot(_.getPath.getName == "_SUCCESS")
        .foreach { f =>
          // throw rather than let the delete below drop staged data a
          // move left behind; re-running stagedFilesIn is safe
          if (!fs.rename(f.getPath,
              new org.apache.hadoop.fs.Path(dayPath, f.getPath.getName)))
            throw new java.io.IOException(
              s"failed to move staged file ${f.getPath} into $dayPath")
        }
      fs.delete(src, true)
    }
    ()
  }

  /** Clear a claimed `.compact_old_*` dir against its swapped-in day
    * dir: any data file in `old` NOT named by its `_compact_inputs`
    * manifest arrived after the compact snapshot (late event-time
    * append / at-least-once replay) and is moved into the day dir; the
    * manifest-named originals — whose rows the staged rewrite already
    * carries — are deleted with the dir. Idempotent: safe to re-run
    * after a crash at any point inside it. Callers guarantee the
    * manifest exists (it is what marks the swap as claimed). */
  private def reconcileOld(fs: org.apache.hadoop.fs.FileSystem,
      old: org.apache.hadoop.fs.Path,
      dayPath: org.apache.hadoop.fs.Path): Unit = {
    val manifest = new org.apache.hadoop.fs.Path(old, ManifestName)
    val listed = {
      val in = fs.open(manifest)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toSet
      finally in.close()
    }
    dataFiles(fs, old).filterNot(p => listed.contains(p.getName))
      .foreach { p =>
        // a failed move must NOT fall through to the delete below —
        // that would silently drop the late file the manifest exists
        // to protect; throwing leaves `old` intact for the next
        // recovery pass (reconcileOld is idempotent)
        if (!fs.rename(p, new org.apache.hadoop.fs.Path(dayPath, p.getName)))
          throw new java.io.IOException(
            s"failed to move late file $p back into $dayPath; " +
              s"leaving $old for the next recovery pass")
      }
    fs.delete(old, true)
    ()
  }

  /** Recovery phase run at the start of every [[compact]]: finish or
    * roll back whatever a previous crashed run left, using the
    * manifest's presence in each `.compact_old_*` dir as the commit
    * point (scaladoc on [[compact]] enumerates the states). */
  private def recoverCrashedCompacts(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    fs.listStatus(root)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(".compact_old_day="))
      .foreach { s =>
        val old = s.getPath
        val day = new org.apache.hadoop.fs.Path(root,
          old.getName.stripPrefix(".compact_old_"))
        val staged = new org.apache.hadoop.fs.Path(root,
          s".compact_staging_${day.getName}")
        if (manifestClaimed(fs, old)) {
          // swap claimed: complete forward — finish any partial staged
          // move, then reconcile late files back and clear old
          if (fs.exists(staged) ||
              fs.exists(new org.apache.hadoop.fs.Path(day, staged.getName)))
            stagedFilesIn(fs, staged, day)
          reconcileOld(fs, old, day)
        } else if (!fs.exists(day)) {
          // crash before the claim marker: the staged data never swapped
          // in — restore the partition wholesale
          if (!fs.rename(old, day))
            throw new java.io.IOException(
              s"failed to restore unclaimed partition $old to $day")
          ()
        } else {
          // day recreated by a racing append before the claim marker:
          // union old's files into it (never a duplicate — the staged
          // rewrite was not swapped in). A failed move throws BEFORE
          // the delete — old survives for the next recovery pass.
          dataFiles(fs, old).foreach { p =>
            if (!fs.rename(p, new org.apache.hadoop.fs.Path(day, p.getName)))
              throw new java.io.IOException(
                s"failed to union $p back into $day; " +
                  s"leaving $old for the next recovery pass")
          }
          fs.delete(old, true)
          ()
        }
      }
    // staging dirs left without a claimed old are pre-swap leftovers
    // (their day dir is intact): drop them
    fs.listStatus(root)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(".compact_staging_"))
      .foreach(s => fs.delete(s.getPath, true))
    ()
  }

  /** Subject-bucketed layout (optional refinement for subject-heavy
    * workloads — SURVEY §7.4-8): a catalog table bucketed+sorted by
    * `subject`, so per-node aggregations (policy retention, node
    * summaries) and subject-keyed joins read pre-partitioned buckets and
    * skip the shuffle entirely. At 100 TB that deletes the largest
    * exchange of the snapshot pipeline. */
  def appendBucketed(findings: DataFrame, tableName: String,
      numBuckets: Int = 64): Unit = {
    // appending to an existing table must match ITS bucket count —
    // `numBuckets` only applies on first creation
    val spark = findings.sparkSession
    val buckets = scala.util.Try {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
      spark.sessionState.catalog.getTableMetadata(ident)
        .bucketSpec.map(_.numBuckets)
    }.toOption.flatten.getOrElse(numBuckets)
    findings.write
      .bucketBy(buckets, "subject")
      .sortBy("subject")
      .format("parquet")
      .mode(SaveMode.Append)
      .saveAsTable(tableName)
  }

  /** Read the subject-bucketed catalog table written by
    * [[appendBucketed]], optionally interval-filtered (the ms predicate
    * still pushes to the scan). The scan reports hash-partitioning on
    * `subject`, so every subject-keyed aggregation downstream — policy
    * retention, node summaries, the snapshot pipeline's subject
    * shuffle — runs with NO Exchange. Feed the result straight into
    * `GetSnapshot.ofStarts` / [[graft.operators.Weave.snapshot]]. */
  def readBucketed(spark: SparkSession, tableName: String,
      interval: Interval = Interval.whole): DataFrame = {
    val df = spark.table(tableName)
    if (interval.isWhole) df
    else df.filter(interval.predicate(col("epoch_ms")))
  }

  /** Policy-retained view over the bucketed table: the retention
    * aggregation consumes the bucket partitioning directly —
    * shuffle-free (asserted by HistorySpec's plan check). */
  def readBucketedRetained(spark: SparkSession, tableName: String,
      interval: Interval, policy: FoundNodePolicy): DataFrame =
    Weave.retainFindings(readBucketed(spark, tableName, interval), policy)

  /** Derived nodes view: distinct ids observed as subject or target. */
  def nodesView(findings: DataFrame): DataFrame =
    findings.select(col("subject").as("node_id"))
      .union(findings.select(explode(col("links.target")).as("node_id")))
      .distinct()

  /** 64-bit Z-VALUE (Morton code) interleaving a 32-bit subject hash
    * with 32 bits of coarse time (epoch minutes) — pure bit-twiddling
    * column expressions, codegen-friendly. */
  def zValue(subject: org.apache.spark.sql.Column,
      epochMs: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def spread(c: org.apache.spark.sql.Column) = {
      // interleave zeros between the low 32 bits (classic Morton spread)
      var x = c.bitwiseAND(lit(0xffffffffL))
      x = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(0x0000ffff0000ffffL))
      x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00ff00ff00ff00ffL))
      x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0f0f0f0f0f0f0f0fL))
      x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x3333333333333333L))
      x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x5555555555555555L))
    }
    val h = conv(substring(md5(subject.cast("string")), 1, 8), 16, 10)
      .cast("long")
    // epoch minutes: double division is exact here (ms < 2^53)
    val t = floor(epochMs / lit(60000L)).cast("long")
      .bitwiseAND(lit(0xffffffffL))
    spread(h).bitwiseOR(shiftleft(spread(t), 1))
  }

  /** Z-ORDERED history layout: range-partition + sort the findings by
    * the Morton code of (subject, time), so each parquet file covers a
    * compact rectangle of the (subject, time) plane — row-group min/max
    * stats then prune BOTH subject-selective and interval-selective
    * scans, which neither date partitioning (time-only) nor subject
    * bucketing (subject-only) achieves alone. The standard lakehouse
    * multi-dimensional clustering technique, as plain Spark: one range
    * exchange + per-partition sort, no table format required. File
    * z-ranges are pairwise disjoint by construction (range
    * partitioning) — asserted by HistorySpec. */
  def writeZOrdered(findings: DataFrame, tableDir: String,
      numFiles: Int = 32): Unit = {
    val withZ = findings.withColumn("__z",
      zValue(col("subject"), col("epoch_ms")))
    withZ
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(tableDir)
  }
}
