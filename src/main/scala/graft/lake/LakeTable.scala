package graft.lake

import graft.core.UserException
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, element_at, lit, max, split, sum, typedLit, when}
import org.apache.spark.sql.types.{StructField, StructType}

import java.net.URLDecoder
import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.graftbridge.SparkBridge

import TransactionLog._

/** Reader/writer for graft lake tables (see TransactionLog for the
  * protocol). Public surface mirrors what the reference drives through
  * delta-rs + generated SQL: mode-dispatched writes with schema merge
  * and partitioning (K1-K3), MERGE upsert (U3), snapshot reads, time
  * travel, history, vacuum.
  *
  * Scale posture:
  * - data files are written by Spark tasks in parallel (one parquet
  *   file per task per partition dir) — the driver only moves/commits
  *   file *names*, never rows;
  * - reads hand Spark the exact live-file list from the log (no
  *   directory listing) with `basePath` set, so hive-style partition
  *   columns come back and partition pruning works;
  * - merge is copy-on-write with file-level pruning: only data files
  *   that actually contain matching keys are rewritten, found by one
  *   probe job that counts semi-join matches per `_metadata.file_path`
  *   — at 100 TB this is the difference between rewriting 3 files and
  *   rewriting the table.
  */
final class LakeTable(spark: SparkSession, val path: Path) {

  def exists: Boolean = tableExists(path)
  def version: Long = latestVersion(path)
  def snapshotNow: Snapshot = snapshot(path)
  def historyInfo: Seq[CommitInfo] = history(path)

  /** DataFrame over the latest snapshot (or `versionAsOf`), served
    * through the log-backed GraftFileIndex: no directory listing,
    * partition pruning from the log, and per-file min/max skipping
    * for selective filters.
    */
  def read(versionAsOf: Long = -1L): DataFrame = {
    val snap = pruneGutted(snapshot(path, versionAsOf))
    val schema = snap.schema
    if (snap.files.isEmpty) emptyFrame(schema)
    else {
      val mapping = mappingOf(snap)
      applyDvFilter(spark.baseRelationToDataFrame(fsRelation(snap)), snap.files)
        .select(schema.fields.map(f =>
          col(physicalOf(mapping, f.name)).cast(f.dataType).as(f.name)).toSeq: _*)
    }
  }

  private def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Drops files whose DV deletes EVERY row (descriptor cardinality ==
    * the file's `numRecords` stat) from a snapshot's scan list: they
    * contribute no live rows, so skipping them outright beats masking
    * each row — zero scan IO, no DV parquet read, and no pressure on
    * the tier-1 mask gate. This makes the DELETE-WHERE-partition shape
    * metadata-only at read time until OPTIMIZE physically drops the
    * file. Files without a numRecords stat are never pruned.
    */
  private def pruneGutted(snap: Snapshot): Snapshot = {
    val live = snap.files.filterNot(f =>
      f.dv.exists(d => f.numRecords.contains(d.cardinality)))
    if (live.length == snap.files.length) snap else snap.copy(files = live)
  }

  /** Like [[read]] for the latest snapshot, plus the row-provenance
    * columns DML needs: `__graft_file` (the scan-path rendering) and
    * `__graft_row` (parquet row index). Provenance MUST be derived
    * below the DV anti-join — `_metadata` does not resolve through a
    * join — which is why DML paths use this instead of reading
    * `_metadata` off [[read]]'s result.
    */
  private def readWithProvenance(snap0: Snapshot): DataFrame = {
    val snap = pruneGutted(snap0)
    val schema = snap.schema
    if (snap.files.isEmpty)
      return emptyFrame(StructType(schema.fields ++ Seq(
        StructField("__graft_file", org.apache.spark.sql.types.StringType),
        StructField("__graft_row", org.apache.spark.sql.types.LongType))))
    val mapping = mappingOf(snap)
    val base = spark.baseRelationToDataFrame(fsRelation(snap))
      .withColumn("__graft_file", col("_metadata.file_path"))
      .withColumn("__graft_row", col("_metadata.row_index"))
    applyDvFilter(base, snap.files)
      .select(schema.fields.map(f =>
        col(physicalOf(mapping, f.name)).cast(f.dataType).as(f.name)).toSeq ++
        Seq(col("__graft_file"), col("__graft_row")): _*)
  }

  /** The V1 file relation over a snapshot — the ONE place the physical
    * data schema, bucket spec, and log-backed index are assembled
    * (LakeTable.read projects logical names on top; DefaultSource
    * serves it directly when no column mapping exists).
    *
    * Everything below the projection edge is PHYSICAL names: the
    * relation's data schema, pushed filters, per-file stats keys, and
    * the bucket spec all agree with what the parquet files actually
    * contain. A bucketed snapshot (every live file carries the
    * bucket-id suffix) surfaces its layout as a BucketSpec, so the
    * scan groups files by bucket and reports HashPartitioning — joins
    * and aggregations on the bucket keys then skip their Exchange.
    */
  private[lake] def fsRelation(
      snap: Snapshot): org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val index = new GraftFileIndex(spark, path, snap)
    val mapping = mappingOf(snap)
    val dataSchema = org.apache.spark.sql.types.StructType(
      snap.schema.fields.filterNot(f => snap.metadata.partitionColumns.contains(f.name))
        .map(f => StructField(physicalOf(mapping, f.name), f.dataType, f.nullable)))
    // the suffix must also be IN RANGE: Spark's bucketed read groups
    // files into buckets 0..n-1 and a file parsed to id ≥ n would be
    // silently DROPPED from every scan (vanishing rows) — such a
    // layout reads as unbucketed instead (correct, just re-shuffles)
    val bucketSpec = bucketingOf(snap)
      .filter(b => snap.files.forall(f =>
        Bucketing.bucketIdOf(fileNameOf(f.path))
          .exists(id => id >= 0 && id < b.numBuckets)))
      .map(b => org.apache.spark.sql.catalyst.catalog.BucketSpec(
        b.numBuckets, b.columns.map(physicalOf(mapping, _)),
        b.sortColumns.map(physicalOf(mapping, _))))
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, index.partitionSchema, dataSchema, bucketSpec,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      Map.empty[String, String])(spark)
  }

  /** Time travel by wall clock: the table as of the newest commit with
    * timestamp ≤ `ts` (epoch millis) — "what did the corpus look like
    * when that training run started". Metadata-only resolution over
    * commit history.
    */
  def readAsOfTimestamp(ts: Long): DataFrame = {
    val v = versionAsOfTimestamp(ts)
    read(versionAsOf = v)
  }

  /** Newest version whose commit timestamp is ≤ `ts`. Taking the MAX
    * qualifying version (not the first newest-first match) keeps the
    * answer sane even if a lost-and-retried commit recorded a slightly
    * older timestamp at a higher version.
    */
  def versionAsOfTimestamp(ts: Long): Long = {
    val h = history(path)
    h.filter(_.timestamp <= ts).map(_.version).maxOption.getOrElse(
      throw UserException(
        s"No commit at or before timestamp $ts (earliest is " +
          s"${h.lastOption.map(_.timestamp).getOrElse(-1L)})"))
  }

  /** RESTORE to an earlier version as a NEW commit (history is kept;
    * this is an undo that is itself undoable): files of the target
    * snapshot re-add, current-only files remove, target metadata
    * (schema, partitioning, bucketing, mapping) is reinstated.
    */
  def restore(targetVersion: Long): Unit = {
    val current = snapshot(path)
    val target = snapshot(path, targetVersion)
    val currentPaths = current.files.map(_.path).toSet
    val targetPaths = target.files.map(_.path).toSet
    // VACUUM may have deleted files only the target version references —
    // data files AND the DV parquets its descriptors point at (vacuum
    // protects only the CURRENT snapshot's DV dirs, so a superseded DV
    // a target descriptor still needs can be gone)
    val missing = target.files
      .filterNot(f => currentPaths.contains(f.path))
      .filterNot(f => Files.exists(resolvePath(path, f.path)))
    // vacuum deletes the parquet parts INSIDE a DV directory (the dir
    // itself survives), so "exists" means "still holds parquet content"
    val missingDv = target.files.flatMap(_.dv).map(_.path).distinct
      .filterNot { p =>
        val d = resolvePath(path, p)
        Files.exists(d) && walkClosed(d).exists(f =>
          Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      }
    if (missing.nonEmpty || missingDv.nonEmpty)
      throw UserException(
        s"Cannot restore to version $targetVersion: " +
          s"${missing.size + missingDv.size} file(s) were vacuumed " +
          s"(first: ${(missing.map(_.path) ++ missingDv).head})")
    val ts = System.currentTimeMillis()
    val actions = Seq.newBuilder[com.fasterxml.jackson.databind.node.ObjectNode]
    actions += commitInfoAction("RESTORE",
      Map("version" -> targetVersion.toString), ts)
    if (current.metadata != target.metadata)
      actions += metadataAction(target.metadata)
    current.files.filterNot(f => targetPaths.contains(f.path))
      .foreach(f => actions += removeAction(f.path, ts))
    target.files.filterNot(f => currentPaths.contains(f.path))
      .foreach(f => actions += addAction(f))
    commitPinned(current.version, actions.result())
  }

  /** SHALLOW CLONE: a new independent table whose log references this
    * table's data files by absolute path — zero bytes copied, so a
    * 100 TB table clones in one metadata commit. The clone diverges
    * freely (its own appends/merges/DDL write under its own root);
    * like Delta's shallow clones, VACUUMing the SOURCE can invalidate
    * clones (the clone's vacuum only walks its own directory and never
    * touches borrowed files).
    */
  def cloneShallowTo(dest: Path): LakeTable = {
    val snap = snapshot(path)
    if (tableExists(dest))
      throw UserException(s"Clone destination already exists: $dest")
    assertNotNested(dest)
    val ts = System.currentTimeMillis()
    val actions = Seq.newBuilder[com.fasterxml.jackson.databind.node.ObjectNode]
    actions += commitInfoAction("CLONE",
      Map("source" -> path.toString, "sourceVersion" -> snap.version.toString), ts)
    actions += protocolAction()
    actions += metadataAction(snap.metadata.copy(id = UUID.randomUUID().toString))
    snap.files.foreach { f =>
      // DV descriptors borrow too: absolutize the DV parquet's path
      // (its (fid,row) payload stays valid — fids are path-free)
      actions += addAction(f.copy(
        path = resolvePath(path, f.path).toUri.toString,
        dv = f.dv.map(d => d.copy(path = resolvePath(path, d.path).toUri.toString)),
        dataChange = false))
    }
    Files.createDirectories(dest)
    if (!tryCommit(dest, 0L, actions.result()))
      throw new java.util.ConcurrentModificationException(
        s"Concurrent creation of clone destination $dest")
    new LakeTable(spark, dest)
  }

  /** DEEP CLONE: independent copy with its own data files, preserving
    * partitioning, bucketing, and CHECK constraints. Column mapping
    * does NOT carry — the fresh files are written under logical names,
    * so the clone starts mapping-free (same observable schema).
    */
  def cloneDeepTo(dest: Path): LakeTable = {
    val snap = snapshot(path)
    if (tableExists(dest))
      throw UserException(s"Clone destination already exists: $dest")
    assertNotNested(dest)
    val t = new LakeTable(spark, dest)
    // data pinned to the SAME snapshot the layout/constraints come
    // from — read() would take a fresh one and a concurrent commit
    // could tear the clone (new data under old layout)
    t.write(read(versionAsOf = snap.version), "error",
      partitionBy = snap.metadata.partitionColumns,
      bucketBy = bucketingOf(snap))
    // carry CHECK constraints in ONE metadata commit: the copied rows
    // satisfied them on the source at this snapshot, so re-validating
    // with addConstraint's full scan (once per constraint) buys nothing
    val constraints = snap.metadata.configuration
      .filter(_._1.startsWith(ConstraintPrefix))
    if (constraints.nonEmpty) {
      val cs = t.snapshotNow
      t.commitAlter(cs.version,
        cs.metadata.copy(configuration = cs.metadata.configuration ++ constraints),
        "ALTER.AddConstraint", Map("carried" -> constraints.size.toString))
    }
    t
  }

  /** Rejects source/destination nesting for clones: vacuum walks a
    * table's whole directory, so a table nested inside another would
    * have its data files deleted by the outer table's vacuum.
    */
  private def assertNotNested(dest: Path): Unit = {
    val srcAbs = path.toAbsolutePath.normalize
    val dstAbs = dest.toAbsolutePath.normalize
    if (dstAbs.startsWith(srcAbs) || srcAbs.startsWith(dstAbs))
      throw UserException(
        s"Clone destination $dest must not nest with the source table $path")
  }

  /** Incremental (CDC-style) read: rows APPENDED in versions
    * `(sinceVersion, toVersion]`, each tagged with `_commit_version` —
    * what a downstream pipeline consumes to process only new data
    * instead of rescanning the table. Metadata cost is O(commits in
    * range); data cost is only the added files.
    *
    * Append-only semantics: adds with `dataChange=false` (compaction)
    * are skipped; rows introduced by MERGE/UPDATE rewrites appear as
    * fresh adds (copy-on-write re-emits the whole rewritten file), so
    * consumers of updated keys deduplicate on their primary key —
    * documented Delta-CDF-without-change-types behavior.
    */
  def changes(sinceVersion: Long, toVersion: Long = -1L): DataFrame = {
    val to = if (toVersion < 0) version else toVersion
    val snap = snapshot(path, to)
    val schema = snap.schema
    val mapping = mappingOf(snap)
    // The same data-file path can be added more than once in the range
    // (RESTORE re-adds files an earlier commit in range also added);
    // scanning it twice AND looking it up twice would multiply its
    // rows. Keep only the LATEST in-range add per path — the rows are
    // identical, the commit version is the most recent introduction.
    val versioned: Seq[(Long, AddFile)] = addsBetween(path, sinceVersion + 1, to)
      .flatMap { case (v, adds) => adds.filter(_.dataChange).map(v -> _) }
      .groupBy { case (_, f) => f.path }
      .values.map(_.maxBy(_._1))
      .toSeq.sortBy(_._1)
    val outSchema = StructType(schema.fields :+
      StructField("_commit_version", org.apache.spark.sql.types.LongType, nullable = false))
    if (versioned.isEmpty) return emptyFrame(outSchema)
    val physSchema = StructType(schema.fields.map(f =>
      StructField(physicalOf(mapping, f.name), f.dataType, f.nullable)))
    val paths = versioned.map { case (_, f) => resolvePath(path, f.path).toString }
    val reader = spark.read.schema(physSchema)
    val raw =
      if (snap.metadata.partitionColumns.nonEmpty)
        reader.option("basePath", path.toString).parquet(paths: _*)
      else reader.parquet(paths: _*)
    // per-row commit version via a broadcast lookup on the FULL scan
    // path (base names repeat across the partition dirs one task
    // writes) — metadata-sized, never a wide shuffle
    import spark.implicits._
    val lookup = versioned
      .map { case (v, f) => (scanPathOf(f), v) }
      .toDF("__file", "_commit_version")
    raw
      .withColumn("__file", col("_metadata.file_path"))
      .join(broadcast(lookup), "__file")
      .select(schema.fields.map(f =>
        col(physicalOf(mapping, f.name)).cast(f.dataType).as(f.name)).toSeq :+
        col("_commit_version"): _*)
  }

  /** Bucketing layout recorded in the table metadata, if any. */
  def bucketing: Option[Bucketing] =
    if (exists) bucketingOf(snapshot(path)) else None

  private def bucketingOf(snap: Snapshot): Option[Bucketing] =
    Bucketing.fromConfig(snap.metadata.configuration)

  private def fileNameOf(rel: String): String =
    rel.substring(rel.lastIndexOf('/') + 1)

  /** The probe of every DML: rows of `matched` (scan rows carrying
    * `__graft_file` provenance) per file, and the add-files they name —
    * the touched-file set AND the matched-row count in ONE job. Each
    * task folds its rows into a path → count map and the driver sums
    * the maps; the result is bounded by construction (at most one
    * entry per task per file it scanned, so snapshot-sized, and the
    * driver already holds the snapshot). A Dataset action, so it runs
    * under an SQL execution id like every other DML job.
    */
  private def probeTouched(
      snap: Snapshot, matched: DataFrame): (Map[String, Long], Seq[AddFile]) = {
    import spark.implicits._
    val counts = matched.select(col("__graft_file")).as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach(f => m.update(f, m.getOrElse(f, 0L) + 1L))
      m.iterator
    }.collect().groupMapReduce(_._1)(_._2)(_ + _)
    (counts, touchedBy(snap, counts))
  }

  /** Add-files named by per-file counts keyed on scan provenance: one
    * set lookup per file against the scanPathOf rendering. Matching
    * through any other string form has burned twice already —
    * `file:///x` vs Hadoop's `file:/x`, and relative table roots vs
    * the scan's absolute paths — either way copy-on-write "touches"
    * zero files and MERGE duplicates keys.
    */
  private def touchedBy(snap: Snapshot, counts: Map[String, Long]): Seq[AddFile] =
    snap.files.filter(f => counts.contains(scanPathOf(f)))

  /** The copy-on-write tail of every DML: `rows`, written under the
    * snapshot's layout, replace the `touched` files in one commit
    * pinned at `snap`.
    */
  private def rewriteTouched(
      snap: Snapshot, touched: Seq[AddFile], rows: DataFrame,
      op: String, params: Map[String, String]): Unit = {
    val adds = writeFor(snap, rows)
    val ts = System.currentTimeMillis()
    commitPinned(snap.version, commitInfoAction(op, params, ts) +:
      (touched.map(f => removeAction(f.path, ts)) ++ adds.map(addAction)))
  }

  /** Writes `df` as data files under the snapshot's partitioning,
    * bucketing and column mapping.
    */
  private def writeFor(snap: Snapshot, df: DataFrame): Seq[AddFile] = {
    val b = bucketingOf(snap)
    writeDataFiles(bucketize(df, b), snap.metadata.partitionColumns, "snappy", b, mappingOf(snap))
  }

  // ---- deletion vectors (merge-on-read) -----------------------------------
  //
  // Copy-on-write MERGE rewrites every byte of every touched file; with
  // scattered keys that degenerates to a full-table rewrite per batch —
  // the one plan a standing 100 TB upsert pipeline cannot run. The
  // merge-on-read path instead records matched rows as (file, row-index)
  // pairs in a DV parquet under `_dv/`, re-adds the touched AddFiles
  // with a `deletionVector` descriptor (Delta-protocol shape), and
  // appends only the new row versions: write cost is O(changed rows),
  // not O(touched bytes). Scans subtract the DV pairs with an anti-join
  // on parquet row provenance (`_metadata.file_path` / `row_index`);
  // the DV side is broadcast while its descriptor-summed size stays
  // under a threshold — bounded in steady state because OPTIMIZE
  // materializes DVs back into clean files. Min/max file stats stay
  // sound under DVs (deleted rows only shrink the true range, so
  // skipping can under-prune, never wrong).

  /** On-disk DV payload: `fid` (the per-DV-write file ordinal the
    * descriptors key on) + row index. Pure numerics — no path string
    * per deleted row (dictionary encoding; see DvDescriptor's scaladoc).
    */
  private val DvSchema = StructType(Seq(
    StructField("fid", org.apache.spark.sql.types.IntegerType, nullable = false),
    StructField("row", org.apache.spark.sql.types.LongType, nullable = false)))

  /** Max summed DV bytes for which the anti-join side is force-
    * broadcast. Above it the planner decides (a shuffle anti-join is
    * the signal to run OPTIMIZE, not something to paper over).
    */
  private val DvBroadcastBytes = 64L << 20

  /** All referenced DV parquets as one frame `(dvi, fid, row)`, where
    * `dvi` is the index into `dvPaths` — the second dictionary level
    * (which DV parquet), so multi-DV unions stay string-free too.
    * `fids(i)`, when given, keeps only those fids of parquet `i` (an
    * IN-list the parquet scan pushes down).
    */
  private def readDvRaw(dvPaths: Seq[String], fids: Seq[Seq[Int]] = Nil): DataFrame =
    dvPaths.zipWithIndex.map { case (p, i) =>
      val raw = spark.read.schema(DvSchema).parquet(resolvePath(path, p).toString)
      fids.lift(i).fold(raw)(fs => raw.where(col("fid").isin(fs: _*)))
        .select(lit(i).as("dvi"), col("fid"), col("row"))
    }.reduce(_ unionByName _)

  /** Summed bytes of the distinct DV parquets behind `dvFiles` (each
    * parquet counted once, however many descriptors share it).
    */
  private def dvBytesOf(dvFiles: Seq[AddFile]): Long =
    dvFiles.flatMap(_.dv).groupBy(_.path).map(_._2.head.sizeInBytes).sum

  /** Subtracts deleted rows from a scan over `files`. `scanDf` must sit
    * directly enough over the parquet relation for `_metadata` to
    * resolve. No-op (and no plan change) when no file carries a DV.
    *
    * Fully-gutted files never reach any tier from the read paths —
    * [[pruneGutted]] drops them from the scan list first.
    *
    * Three tiers by DV size:
    *  1. ≤ `spark.graft.dv.maskMaxRows` total deleted rows (exact, from
    *     descriptor cardinalities): a driver-built [[DvMask]] applied
    *     as ONE codegen'd filter — no join in the plan, and the mask is
    *     LRU-cached across scans (DV parquets are immutable), so
    *     steady-state reads pay only the per-row lookup.
    *  2. ≤ 64 MB summed DV parquet bytes: numeric-keyed broadcast
    *     anti-join (two broadcast hash joins, still one codegen span).
    *  3. beyond: the planner decides — a shuffle anti-join here is the
    *     documented signal to run OPTIMIZE.
    */
  private def applyDvFilter(scanDf: DataFrame, files: Seq[AddFile]): DataFrame = {
    val dvFiles = files.filter(_.dv.isDefined)
    if (dvFiles.isEmpty) return scanDf
    import spark.implicits._
    val maskMaxRows = graft.core.SessionConf.nonNegativeLong(
      spark, LakeTable.DvMaskMaxRowsKey, LakeTable.DvMaskMaxRowsDefault)
    // Tier 1 gates on BOTH the referenced cardinality sum and the DV
    // parquets' summed bytes: under the cumulative-superset contract a
    // DV parquet can hold far more rows (for fids superseded by later
    // DML) than the descriptors reference — unbounded when
    // autoOptimize is off — and the mask build scans those parquets
    // eagerly at DataFrame-construction time. Past DvBroadcastBytes
    // the parquet is >~97% garbage at the row gate anyway (the signal
    // to OPTIMIZE); tier 2 then handles it lazily with the same cap.
    if (dvFiles.flatMap(_.dv).map(_.cardinality).sum <= maskMaxRows &&
        dvBytesOf(dvFiles) <= DvBroadcastBytes) {
      val mask = dvMaskFor(dvFiles)
      val pred = DvDeleted(
        SparkBridge.expression(col("_metadata.file_path")),
        SparkBridge.expression(col("_metadata.row_index")), mask)
      return scanDf.where(!SparkBridge.column(pred))
    }
    val dvPaths = dvFiles.flatMap(_.dv).map(_.path).distinct
    val dvIdx = dvPaths.zipWithIndex.toMap
    val dvRaw = readDvRaw(dvPaths)
    val dv = if (dvBytesOf(dvFiles) <= DvBroadcastBytes) broadcast(dvRaw) else dvRaw
    // scan provenance is an absolute path rendering; descriptors map it
    // to (which DV parquet, which fid) — a metadata-sized broadcast
    // lookup, after which the anti-join keys are all-numeric
    val lookup = dvFiles.map { f =>
      val d = f.dv.get
      (scanPathOf(f), dvIdx(d.path), d.fid)
    }.toDF("__gdv_file", "__gdv_dvi", "__gdv_fid")
    scanDf
      .withColumn("__gdv_file", col("_metadata.file_path"))
      .withColumn("__gdv_row", col("_metadata.row_index"))
      .join(broadcast(lookup), Seq("__gdv_file"), "left")
      .join(dv, col("__gdv_dvi") === dv("dvi") && col("__gdv_fid") === dv("fid") &&
        col("__gdv_row") === dv("row"), "left_anti")
      .drop("__gdv_file", "__gdv_row", "__gdv_dvi", "__gdv_fid")
  }

  /** Mask for tier 1 of [[applyDvFilter]], LRU-cached by descriptor
    * identity (scan path, DV parquet, fid — DV parquets are immutable,
    * so equal keys mean equal content). A snapshot whose descriptor
    * set misses assembles its mask from the per-descriptor row sets of
    * [[LakeTable.dvRowSets]] and collects only the descriptors no earlier
    * mask read — one job, over every DV parquet they reference — so a
    * new snapshot of a standing merge-on-read table reads only its new
    * DV parquet, and none after an OPTIMIZE.
    */
  private def dvMaskFor(dvFiles: Seq[AddFile]): DvMask = {
    val key = dvFiles.map { f =>
      val d = f.dv.get; (scanPathOf(f), d.path, d.fid)
    }.sorted
    val hit = LakeTable.dvMaskCache.synchronized(
      Option(LakeTable.dvMaskCache.get(key)))
    hit.getOrElse {
      // build OUTSIDE the lock (it runs a collect); a racing double
      // build is harmless — last put wins, content identical
      def rowsKey(dvPath: String, fid: Int) = (resolvePath(path, dvPath).toString, fid)
      def keyOf(f: AddFile) = rowsKey(f.dv.get.path, f.dv.get.fid)
      val known = dvFiles.flatMap(f => LakeTable.dvRowSets.get(keyOf(f)).map(keyOf(f) -> _)).toMap
      val missing = dvFiles.filterNot(f => known.contains(keyOf(f))).groupBy(_.dv.get.path).toSeq
      // filter to the REFERENCED fids in the frame, not after collect:
      // a DV parquet may hold (unboundedly many, when autoOptimize is
      // off) rows for fids superseded by later DML, and the fid IN-list
      // pushes down to the parquet scan so row-group stats prune them
      // before they ever reach the driver — the collect is then bounded
      // by the tier-1 cardinality gate
      val built = if (missing.isEmpty) Map.empty[(String, Int), RowSet] else
        readDvRaw(missing.map(_._1), missing.map(_._2.map(_.dv.get.fid))).collect()
          .groupBy(r => (r.getInt(0), r.getInt(1))).map { case ((dvi, fid), rs) =>
            val arr = rs.map(_.getLong(2))
            java.util.Arrays.sort(arr)
            val (k, set) = (rowsKey(missing(dvi)._1, fid), RowSet.fromSorted(arr))
            LakeTable.dvRowSets.put(k, set, arr.length)
            k -> set
          }
      val sets = known ++ built
      val m = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, RowSet]()
      dvFiles.foreach(f => sets.get(keyOf(f)).foreach(set =>
        m.put(org.apache.spark.unsafe.types.UTF8String.fromString(scanPathOf(f)), set)))
      val mask = new DvMask(m)
      LakeTable.dvMaskCache.synchronized(LakeTable.dvMaskCache.put(key, mask))
      mask
    }
  }

  /** True when any live file carries a deletion vector. */
  def hasDeletionVectors: Boolean =
    exists && snapshot(path).files.exists(_.dv.isDefined)

  /** ALTER TABLE SET TBLPROPERTIES analog: metadata-only commit merging
    * `props` into the table configuration (e.g. flip
    * `graft.merge.mode` on an existing table).
    */
  def alterSetProperties(props: Map[String, String]): Unit = {
    LakeTable.checkProperties(props)
    val snap = snapshot(path)
    commitAlter(snap.version,
      snap.metadata.copy(configuration = snap.metadata.configuration ++ props),
      "ALTER.SetProperties", props)
  }

  /** MERGE strategy recorded on the table
    * (`graft.merge.mode` ∈ copy-on-write | merge-on-read).
    */
  private def mergeModeOf(snap: Snapshot): String = {
    val mode = snap.metadata.configuration.getOrElse(LakeTable.MergeModeKey, "copy-on-write")
    LakeTable.checkProperties(Map(LakeTable.MergeModeKey -> mode))
    mode
  }

  /** Writes `rows` (`__graft_file`, `__graft_row`) — the scan path
    * ([[scanPathOf]]) of the data file each deleted row belongs to and
    * its row index — as one (fid, row) parquet
    * under `_dv/`, assigning each distinct file a dense `fid` ordinal.
    * `counts` = exact per-file row counts of `rows` (the caller always
    * has them from its own stats pass — recounting here would cost an
    * extra job). Returns (relative path, per-file (fid, cardinality),
    * total bytes).
    */
  private def writeDvFile(
      rows: DataFrame,
      counts: Map[String, Long]): (String, Map[String, (Int, Long)], Long) = {
    import spark.implicits._
    val fidOf = counts.keys.toSeq.sorted.zipWithIndex.toMap
    val total = counts.values.sum
    // sorted, few files: a DV is read by every subsequent scan
    val nParts = math.max(1, math.min(64, total / 4000000L)).toInt
    val rel = s"_dv/dv-${UUID.randomUUID().toString.take(12)}"
    val dest = path.resolve(rel)
    val fidLookup = fidOf.toSeq.toDF("__graft_file", "fid")
    rows.join(broadcast(fidLookup), "__graft_file")
      .select(col("fid").cast("int").as("fid"), col("__graft_row").cast("long").as("row"))
      .repartition(nParts, col("fid"))
      .sortWithinPartitions("fid", "row")
      .write.parquet(dest.toString)
    val size = walkClosed(dest)
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(Files.size).sum
    (rel, counts.map { case (f, c) => f -> (fidOf(f), c) }, size)
  }

  /** Shared merge-on-read commit: record the rows of `matched` (probe
    * rows carrying `__graft_file` / `__graft_row` provenance) as
    * deletes — cumulative per file: old DV rows of re-touched files are
    * carried forward via their descriptors' (path, fid) keys — append
    * `appendDf`, one atomic commit pinned at `snap`, then apply the DV
    * steady-state policy. Returns the number of NEWLY deleted rows.
    */
  private def commitMorDeletes(
      snap: Snapshot,
      matched: DataFrame,
      appendDf: Option[DataFrame],
      operation: String,
      opParams: Map[String, String],
      newCounts: Option[Map[String, Long]] = None): Long = {
    import spark.implicits._
    // the policy is read before any write: a malformed property fails
    // here, not after the commit (where a retry would re-apply the DML)
    val (autoOptimize, _, _) = dvPolicyOf(snap.metadata.configuration)
    // DV rows keep the scan path as their file key ([[touchedBy]]).
    // Cached only when the probe count job below reads them too: with
    // the caller's counts the DV write is their one reader, and under
    // AQE a cache costs its own cache-build job
    val rows = matched.select(col("__graft_file"), col("__graft_row"))
    val dvRows = if (newCounts.isEmpty) rows.cache() else rows
    try {
      // ONE stats job (unless the caller already aggregated): per-file
      // new-delete counts carry the touched set, the deleted total,
      // AND the DV writer's cardinalities
      val (nc, touched) = newCounts.fold(probeTouched(snap, dvRows))(c => (c, touchedBy(snap, c)))
      val newDeleted = nc.values.sum
      // carry forward re-touched files' old rows, translated old
      // (path, fid) → current scan path; files NOT re-touched keep
      // their old descriptors (the old parquet holds a superset, and
      // their fids still resolve into it). Cardinalities add exactly:
      // a still-deleted row is invisible to the probe, so new deletes
      // can never re-delete an old DV row.
      val oldCard: Map[String, Long] =
        touched.flatMap(f => f.dv.map(d => scanPathOf(f) -> d.cardinality)).toMap
      val totalCounts = nc.map { case (f, c) => f -> (c + oldCard.getOrElse(f, 0L)) }
      // — each file's fid mapped to its scan path in the scan's own
      // projection, so carrying rows forward adds no job
      val oldPairs: Seq[DataFrame] = touched
        .flatMap(f => f.dv.map(d => (d.path, d.fid, scanPathOf(f))))
        .groupBy(_._1).toSeq.map { case (dvPath, fs) =>
          val fileOf = typedLit(fs.map { case (_, fid, file) => fid -> file }.toMap)
          spark.read.schema(DvSchema)
            .parquet(resolvePath(path, dvPath).toString)
            .where(col("fid").isin(fs.map(_._2): _*))
            .select(element_at(fileOf, col("fid")).as("__graft_file"), col("row").as("__graft_row"))
        }
      val dvAll = oldPairs.foldLeft(dvRows)(_ unionByName _)
      // the DV write and the append write are independent job chains —
      // overlap them (local[32] and a real cluster both have the slack;
      // sequential, they'd serialize two sub-second tails), each under
      // the caller's job group, description and scheduler pool
      val dvOutF = SparkBridge.async(spark) {
        if (touched.isEmpty) None else Some(writeDvFile(dvAll, totalCounts))
      }
      val addsF = SparkBridge.async(spark) {
        appendDf.fold(Seq.empty[AddFile])(writeFor(snap, _))
      }
      val dvOut = SparkBridge.await(dvOutF)
      val adds = SparkBridge.await(addsF)
      if (touched.isEmpty && adds.isEmpty) return 0L
      val ts = System.currentTimeMillis()
      val actions = Seq.newBuilder[com.fasterxml.jackson.databind.node.ObjectNode]
      actions += commitInfoAction(operation,
        opParams ++ Map("mergeMode" -> "merge-on-read",
          "numDeletedRows" -> newDeleted.toString), ts)
      dvOut.foreach { case (rel, fidCounts, size) =>
        // re-add with the new descriptor replaces the live entry;
        // dataChange=false keeps CDC readers from re-emitting the
        // file's physical rows (the deletes themselves are invisible to
        // `changes()` — same documented dedupe-on-PK contract as
        // copy-on-write rewrites)
        touched.foreach { f =>
          val (fid, card) = fidCounts(scanPathOf(f))
          actions += addAction(f.copy(
            dv = Some(DvDescriptor(rel, fid, card, size)),
            dataChange = false))
        }
      }
      adds.foreach(a => actions += addAction(a))
      commitPinned(snap.version, actions.result())
      if (autoOptimize) applyDvPolicy()
      newDeleted
    } finally if (newCounts.isEmpty) dvRows.unpersist()
  }

  // ---- DV steady-state policy ---------------------------------------------
  //
  // A standing merge-on-read pipeline that never compacts degrades: DVs
  // grow past the broadcast gate and every scan pays a shuffle
  // anti-join. The policy bounds that: after each MoR commit, files
  // whose deleted fraction exceeds `graft.dv.maxRatio` — or ALL DV'd
  // files once summed DV bytes exceed `graft.dv.maxBytes` — are
  // rewritten clean (deletes materialized), scoped to the offending
  // files, never the table. `graft.dv.autoOptimize=false` keeps MoR
  // commits pure and leaves the check to `dvOptimizeRecommended`.

  private def dvPolicyOf(conf: Map[String, String]): (Boolean, Double, Long) = {
    LakeTable.checkProperties(conf)
    (conf.getOrElse(LakeTable.DvAutoOptimizeKey, "true").toBoolean,
      conf.get(LakeTable.DvMaxRatioKey).map(_.toDouble).getOrElse(0.5),
      conf.get(LakeTable.DvMaxBytesKey).map(_.toLong).getOrElse(DvBroadcastBytes))
  }

  /** Files currently over the policy threshold (empty when healthy). */
  private def dvOverThreshold(snap: Snapshot): Seq[AddFile] = {
    val (_, maxRatio, maxBytes) = dvPolicyOf(snap.metadata.configuration)
    val dvFiles = snap.files.filter(_.dv.isDefined)
    if (dvFiles.isEmpty) Nil
    else if (dvBytesOf(dvFiles) > maxBytes) dvFiles
    else dvFiles.filter { f =>
      f.dv.exists { d =>
        // no stats ⇒ can't bound the live fraction ⇒ treat as over
        f.numRecords.forall(n => n <= 0 || d.cardinality.toDouble / n >= maxRatio)
      }
    }
  }

  /** True when the table would benefit from materializing its DVs —
    * the loud signal a `graft.dv.autoOptimize=false` pipeline polls.
    */
  def dvOptimizeRecommended: Boolean =
    exists && dvOverThreshold(snapshot(path)).nonEmpty

  /** DV maintenance counters for status surfaces (DESCRIBE DETAIL):
    * (files carrying DVs, summed DV parquet bytes, deleted rows
    * referenced by live descriptors, files over the materialization
    * threshold). `dvOptimizeRecommended` ⇔ the last component > 0 —
    * the queryable form of the policy's deferred-pass stderr note.
    */
  def dvStatusNow: (Int, Long, Long, Int) = {
    if (!exists) return (0, 0L, 0L, 0)
    val snap = snapshot(path)
    val dvFiles = snap.files.filter(_.dv.isDefined)
    (dvFiles.size, dvBytesOf(dvFiles),
      dvFiles.flatMap(_.dv).map(_.cardinality).sum,
      dvOverThreshold(snap).size)
  }

  private def applyDvPolicy(): Unit = {
    // the triggering DML has ALREADY committed — a policy pass losing a
    // race must not fail it. One fresh-snapshot retry, then defer to
    // the next MoR commit (steady-state pressure, not a transaction).
    var attempts = 0
    while (attempts < 2) {
      val snap = snapshot(path)
      val over = dvOverThreshold(snap)
      if (over.isEmpty) return
      try { materializeDvFiles(snap, over); return }
      catch {
        case _: java.util.ConcurrentModificationException => attempts += 1
        case scala.util.control.NonFatal(e) =>
          // any OTHER failure (transient FS/Spark error) must not
          // propagate either: the triggering DML already committed,
          // and a caller retrying a non-idempotent MERGE/UPDATE
          // (x = x + 1) on this exception would double-apply it.
          // Defer to dvOptimizeRecommended / the next MoR commit.
          System.err.println(
            s"graft: DV policy pass failed, deferring to next commit: $e")
          return
      }
    }
  }

  /** Rewrites `files` without their deleted rows (DV materialization):
    * a data-preserving OPTIMIZE scoped to the given files — bytes
    * move, facts don't, so the commit is dataChange=false end to end.
    */
  private def materializeDvFiles(snap: Snapshot, files: Seq[AddFile]): Unit = {
    val raw = readFiles(snap, files)
    // bucketed: writeFor re-derives the layout, one file per bucket
    val adds = writeFor(snap,
      if (bucketingOf(snap).isDefined) raw else raw.coalesce(math.max(1, files.size / 4)))
    val ts = System.currentTimeMillis()
    val actions = Seq.newBuilder[com.fasterxml.jackson.databind.node.ObjectNode]
    // full byte/row accounting in the params, so a standing pipeline
    // can audit steady-state maintenance from DESCRIBE HISTORY alone
    // (the policy otherwise acts silently inside a MoR commit)
    actions += commitInfoAction("OPTIMIZE",
      Map("trigger" -> "dv-threshold", "numRemoved" -> files.size.toString,
        "numAdded" -> adds.size.toString,
        "removedBytes" -> files.map(_.size).sum.toString,
        "addedBytes" -> adds.map(_.size).sum.toString,
        "dvBytesReclaimed" -> dvBytesOf(files).toString,
        "deletedRowsMaterialized" ->
          files.flatMap(_.dv).map(_.cardinality).sum.toString), ts)
    files.foreach(f => actions += removeAction(f.path, ts, dataChange = false))
    adds.foreach(a => actions += addAction(a.copy(dataChange = false)))
    commitRewriteRebase(snap, files, actions.result())
  }

  // ---- schema DDL ---------------------------------------------------------
  //
  // The reference drives DDL as generated SQL against a warehouse
  // (SURVEY.md §2.3); in-engine the log IS the catalog, so ALTER TABLE
  // is a metadata-only commit. Renames use column MAPPING (logical name
  // in the schema, physical name in the files, Delta's column-mapping
  // idea): at 100 TB a rename that rewrites data is not an option, and
  // readers resolve logical → physical at planning time for free.

  private[lake] val MappingPrefix = "graft.mapping."

  /** logical column name → physical (in-file) name, for renamed columns */
  private def mappingOf(snap: Snapshot): Map[String, String] =
    snap.metadata.configuration.collect {
      case (k, v) if k.startsWith(MappingPrefix) => k.stripPrefix(MappingPrefix) -> v
    }

  private def physicalOf(mapping: Map[String, String], logical: String): String =
    mapping.getOrElse(logical, logical)

  /** Every schema field must resolve to a DISTINCT physical name:
    * after rename a→b (files keep physical a), introducing a NEW
    * logical column "a" would collide with b's physical name — the
    * physical read schema would carry two fields named a and every
    * read (and write) of the table would fail from then on.
    */
  private def assertNoPhysicalCollision(
      schema: StructType, mapping: Map[String, String]): Unit = {
    val phys = schema.fields.map(f => physicalOf(mapping, f.name))
    val dups = phys.groupBy(identity).collect { case (p, hits) if hits.length > 1 => p }
    if (dups.nonEmpty)
      throw UserException(
        s"Column(s) ${dups.mkString(",")} collide with the physical name of a " +
          "renamed column; pick a different name")
  }

  /** ALTER TABLE ADD COLUMN (nullable; existing files null-fill). */
  def alterAddColumn(name: String, dataType: org.apache.spark.sql.types.DataType): Unit = {
    val snap = snapshot(path)
    if (snap.schema.fieldNames.contains(name))
      throw UserException(s"Column $name already exists")
    val newSchema = StructType(snap.schema.fields :+ StructField(name, dataType, nullable = true))
    assertNoPhysicalCollision(newSchema, mappingOf(snap))
    val meta = snap.metadata.copy(schema = newSchema)
    commitAlter(snap.version, meta, "ALTER.AddColumn",
      Map("column" -> name, "type" -> dataType.simpleString))
  }

  /** ALTER TABLE RENAME COLUMN — metadata-only via column mapping:
    * existing files keep the physical name, the schema carries the new
    * logical one, reads and writes translate at the projection edge.
    */
  def alterRenameColumn(from: String, to: String): Unit = {
    val snap = snapshot(path)
    if (!snap.schema.fieldNames.contains(from))
      throw UserException(s"Column $from does not exist")
    if (snap.schema.fieldNames.contains(to))
      throw UserException(s"Column $to already exists")
    if (snap.metadata.partitionColumns.contains(from))
      throw UserException(
        s"Cannot rename partition column $from (partition values live in directory names)")
    assertNoConstraintReference(snap, from, "rename")
    val mapping = mappingOf(snap)
    val phys = physicalOf(mapping, from)
    // renaming BACK to the physical name un-maps (identity mapping is
    // just noise); otherwise record the new logical → physical entry
    val base = snap.metadata.configuration - (MappingPrefix + from)
    val newConfig =
      if (to == phys) base else base + (MappingPrefix + to -> phys)
    // bucketing config names columns logically — follow the rename
    val rebucketed = bucketingOf(snap) match {
      case Some(b) =>
        val b2 = b.copy(
          columns = b.columns.map(c => if (c == from) to else c),
          sortColumns = b.sortColumns.map(c => if (c == from) to else c))
        newConfig ++ Bucketing.toConfig(b2)
      case None => newConfig
    }
    val renamedSchema = StructType(snap.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    assertNoPhysicalCollision(renamedSchema,
      rebucketed.collect {
        case (k, v) if k.startsWith(MappingPrefix) => k.stripPrefix(MappingPrefix) -> v
      })
    val meta = snap.metadata.copy(
      schema = renamedSchema,
      configuration = rebucketed)
    commitAlter(snap.version, meta, "ALTER.RenameColumn", Map("from" -> from, "to" -> to))
  }

  /** ALTER TABLE DROP COLUMN — metadata-only: files keep the payload,
    * the projection stops selecting it.
    */
  def alterDropColumn(name: String): Unit = {
    val snap = snapshot(path)
    if (!snap.schema.fieldNames.contains(name))
      throw UserException(s"Column $name does not exist")
    if (snap.metadata.partitionColumns.contains(name))
      throw UserException(s"Cannot drop partition column $name")
    assertNoConstraintReference(snap, name, "drop")
    if (bucketingOf(snap).exists(b => (b.columns ++ b.sortColumns).contains(name)))
      throw UserException(
        s"Cannot drop bucketing column $name (rewrite with a new layout first)")
    val meta = snap.metadata.copy(
      schema = StructType(snap.schema.fields.filterNot(_.name == name)),
      configuration = snap.metadata.configuration - (MappingPrefix + name))
    commitAlter(snap.version, meta, "ALTER.DropColumn", Map("column" -> name))
  }

  // ---- constraints --------------------------------------------------------

  private[lake] def ConstraintPrefix: String = LakeTable.ConstraintPrefix

  /** CHECK constraints recorded in table config: name → SQL predicate. */
  def constraints: Map[String, String] =
    if (!exists) Map.empty
    else constraintsOf(snapshot(path))

  private def constraintsOf(snap: Snapshot): Map[String, String] =
    snap.metadata.configuration.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) => k.stripPrefix(ConstraintPrefix) -> v
    }

  /** Rejects a rename/drop of a column some CHECK constraint still
    * references — otherwise the orphaned predicate would fail every
    * later write with an unresolved-column error that never mentions
    * the constraint. Resolution is by parsed attribute name
    * (case-insensitive, like the analyzer's default).
    */
  private def assertNoConstraintReference(snap: Snapshot, column: String, op: String): Unit = {
    val parser = spark.sessionState.sqlParser
    constraintsOf(snap).foreach { case (name, sql) =>
      val refs = parser.parseExpression(sql).collect {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => u.name
      }
      if (refs.exists(_.equalsIgnoreCase(column)))
        throw UserException(
          s"Cannot $op column $column: CHECK constraint $name ($sql) references " +
            "it; drop the constraint first")
    }
  }

  /** ALTER TABLE ADD CONSTRAINT name CHECK (exprSql) — rejected if any
    * EXISTING row violates it (one scan), then enforced on every
    * write/merge/update from this commit on (Delta's invariant
    * semantics: NULL predicate results pass).
    */
  def addConstraint(name: String, exprSql: String): Unit = {
    val snap = snapshot(path)
    if (constraintsOf(snap).contains(name))
      throw UserException(s"Constraint $name already exists")
    val pred = org.apache.spark.sql.functions.expr(exprSql)
    val violating = read().where(!coalesce(pred, lit(true))).count()
    if (violating > 0)
      throw UserException(
        s"Cannot add constraint $name: $violating existing row(s) violate ($exprSql)")
    val meta = snap.metadata.copy(
      configuration = snap.metadata.configuration + (ConstraintPrefix + name -> exprSql))
    commitAlter(snap.version, meta, "ALTER.AddConstraint",
      Map("name" -> name, "expr" -> exprSql))
  }

  def dropConstraint(name: String): Unit = {
    val snap = snapshot(path)
    if (!constraintsOf(snap).contains(name))
      throw UserException(s"Constraint $name does not exist")
    val meta = snap.metadata.copy(
      configuration = snap.metadata.configuration - (ConstraintPrefix + name))
    commitAlter(snap.version, meta, "ALTER.DropConstraint", Map("name" -> name))
  }

  /** Fails the write when incoming rows violate a recorded CHECK
    * constraint or put a NULL into a column the schema declares NOT
    * NULL (Delta's write invariant: the non-nullable read schema
    * would read such a NULL back as a value, e.g. 0). One job
    * over the incoming batch only — never the table — and none when
    * the table has neither; NULL predicate results pass (SQL CHECK
    * semantics).
    */
  private def enforceConstraints(df: DataFrame, snap: Snapshot): Unit = {
    val checks: Seq[(String, Column)] =
      constraintsOf(snap).toSeq.map { case (name, sql) =>
        (s"CHECK constraint $name ($sql)",
          !coalesce(org.apache.spark.sql.functions.expr(sql), lit(true)))
      } ++ snap.schema.fields.filterNot(_.nullable).map(f =>
        (s"NOT NULL column ${f.name}", col(s"`${f.name.replace("`", "``")}`").isNull))
    if (checks.isEmpty) return
    // ONE aggregation job over the incoming batch computes every
    // check's violation count (K separate count() jobs would
    // re-execute the upstream plan K times)
    val sums = checks.map { case (_, bad) => sum(when(bad, 1L).otherwise(0L)) }
    val counts = df.agg(sums.head, sums.tail: _*).collect()(0)
    checks.zipWithIndex.foreach { case ((what, _), i) =>
      val n = if (counts.isNullAt(i)) 0L else counts.getLong(i)
      if (n > 0) throw UserException(s"$what violated by $n row(s)")
    }
  }

  private def commitAlter(
      baseVersion: Long, meta: Metadata, op: String, params: Map[String, String]): Unit = {
    val ts = System.currentTimeMillis()
    commitPinned(baseVersion,
      Seq(commitInfoAction(op, params, ts), metadataAction(meta)))
  }

  /** Reads a file subset under the COMMITTED snapshot schema. The
    * schema must be passed explicitly: without it the parquet reader
    * infers from one arbitrary footer, and files written before a
    * schema evolution would silently drop the newer columns (the
    * per-file reader null-fills missing columns when given the full
    * schema).
    */
  private def readFiles(snap: Snapshot, files: Seq[AddFile]): DataFrame = {
    val schema = snap.schema
    val mapping = mappingOf(snap)
    val partCols = snap.metadata.partitionColumns
    val dataPhys = StructType(schema.fields
      .filterNot(f => partCols.contains(f.name))
      .map(f => StructField(physicalOf(mapping, f.name), f.dataType, f.nullable)))
    val scan = spark.read.schema(dataPhys)
      .parquet(files.map(f => resolvePath(path, f.path).toString): _*)
    val withPart =
      // an unpartitioned rewrite reads no `_metadata` field beyond what
      // a DV filter needs
      if (partCols.isEmpty) applyDvFilter(scan, files)
      else {
        // Partition values come from the LOG, attached via a broadcast
        // join on the scan's file provenance — not from directory-name
        // inference, which requires one common basePath and breaks the
        // moment a shallow clone mixes borrowed (source-rooted) and
        // local files in one rewrite set. The provenance is derived
        // BELOW the DV filter (_metadata does not resolve through the
        // anti-join).
        import spark.implicits._
        val lookup = files.map { f =>
          (scanPathOf(f), partCols.map(c => f.partitionValues.getOrElse(c, null)))
        }.toDF("__file", "__pv")
        applyDvFilter(scan.withColumn("__file", col("_metadata.file_path")), files)
          .join(broadcast(lookup), "__file")
          .select(col("*") +: partCols.zipWithIndex.map { case (c, i) =>
            element_at(col("__pv"), i + 1).cast(schema(c).dataType).as(c)
          }: _*)
          .drop("__file", "__pv")
      }
    withPart.select(schema.fields.map(f =>
      if (partCols.contains(f.name)) col(f.name)
      else col(physicalOf(mapping, f.name)).cast(f.dataType).as(f.name)).toSeq: _*)
  }

  /** The exact string `_metadata.file_path` reports for an add-file —
    * Hadoop's Path rendering (`file:/x`, not `file:///x`) — the ONE
    * join/compare key used wherever driver-side file lists meet
    * scan-side provenance.
    */
  private def scanPathOf(f: AddFile): String =
    new org.apache.hadoop.fs.Path(
      resolvePath(path, f.path).toAbsolutePath.normalize.toUri).toString

  // ---- writes -------------------------------------------------------------

  /** Mode-dispatched write, the Spark-side equivalent of
    * `write_deltalake(uri, batch, mode, partition_by, schema_mode="merge")`
    * (/root/reference/src/component.py:353-365). One atomic commit
    * replaces the reference's per-batch loop (SURVEY.md §7.3).
    * `mode` ∈ append | overwrite | error (errorifexists).
    */
  def write(
      df: DataFrame,
      mode: String,
      partitionBy: Seq[String] = Nil,
      mergeSchema: Boolean = true,
      compression: String = "snappy",
      operationParams: Map[String, String] = Map.empty,
      bucketBy: Option[Bucketing] = None): Unit = {
    val normalized = mode.toLowerCase match {
      case "error" | "errorifexists" => "error"
      case m @ ("append" | "overwrite") => m
      case other => throw UserException(s"Unsupported write mode: $other")
    }
    if (normalized == "error" && exists)
      throw UserException(s"Table already exists at $path (mode=error).")

    val existing = if (exists) Some(snapshot(path)) else None
    existing.foreach { s =>
      if (s.metadata.partitionColumns.nonEmpty && partitionBy.nonEmpty &&
          s.metadata.partitionColumns != partitionBy)
        throw UserException(
          s"Partition columns ${partitionBy.mkString(",")} do not match table " +
            s"partitioning ${s.metadata.partitionColumns.mkString(",")}")
    }
    val partCols =
      if (normalized == "append") existing.map(_.metadata.partitionColumns).filter(_.nonEmpty).getOrElse(partitionBy)
      else partitionBy

    // Bucketing: appends must keep the table's recorded layout (a
    // single unbucketed file would silently break every co-located
    // join the layout promises); overwrite may change or drop it.
    val existingBucketing = existing.flatMap(s => bucketingOf(s))
    val bucketing: Option[Bucketing] = normalized match {
      case "append" =>
        (existingBucketing, bucketBy) match {
          case (Some(e), Some(b)) if e != b =>
            throw UserException(
              s"Bucketing $b does not match table layout $e")
          case (None, Some(_)) if existing.exists(_.files.nonEmpty) =>
            // accepting this would record a layout the table's existing
            // (suffix-less) files can never satisfy — the read side
            // would silently drop the BucketSpec forever
            throw UserException(
              "Cannot introduce bucketing by appending to an existing " +
                "unbucketed table; use overwrite")
          case (e, b) => e.orElse(b)
        }
      case _ => bucketBy
    }
    bucketing.foreach { b =>
      val missing = (b.columns ++ b.sortColumns).filterNot(df.columns.contains)
      if (missing.nonEmpty)
        throw UserException(s"Bucketing columns not in data: ${missing.mkString(",")}")
      if (b.columns.exists(partCols.contains))
        throw UserException("Bucketing columns cannot overlap partition columns")
      if (b.sortColumns.nonEmpty && partCols.nonEmpty)
        throw UserException(
          "Sorted buckets are not supported together with hive partitioning " +
            "(the dynamic-partition writer does not preserve row order)")
    }

    // Schema reconciliation (schema_mode="merge" on every reference
    // write, component.py:97,109): append may add columns; overwrite
    // replaces data but merges the schema too. A schema taken from the
    // data is logged NULLABLE at every level, as Delta does: a frame's
    // non-null flag (`spark.range`'s id) describes that frame, not
    // every later write — and a logged non-nullable column reads a
    // NULL that a later MERGE or append lands as 0
    val targetSchema: StructType = existing match {
      case Some(s) if normalized == "append" =>
        mergeSchemas(s.schema, df.schema, allowNew = mergeSchema)
      case Some(s) if mergeSchema => mergeSchemas(s.schema, df.schema, allowNew = true)
      case _ => SparkBridge.asNullable(df.schema)
    }
    val aligned = alignToSchema(df, targetSchema)

    val mapping = existing.map(mappingOf).getOrElse(Map.empty)
    // schema merge may have introduced new columns — reject any whose
    // name collides with a renamed column's physical name
    assertNoPhysicalCollision(targetSchema, mapping)
    existing.foreach(s => enforceConstraints(aligned, s))
    val adds = writeDataFiles(bucketize(aligned, bucketing), partCols, compression,
      bucketing, mapping)
    val ts = System.currentTimeMillis()
    val metaId = existing.map(_.metadata.id).getOrElse(UUID.randomUUID().toString)
    // carry non-bucketing configuration (e.g. column mapping) forward;
    // the bucketing keys reflect THIS write's layout
    val config = existing.map(_.metadata.configuration).getOrElse(Map.empty)
      .filterNot(_._1.startsWith("graft.bucketing.")) ++
      bucketing.map(Bucketing.toConfig).getOrElse(Map.empty)
    val meta = Metadata(metaId, targetSchema, partCols, config)
    val removes: Seq[String] =
      if (normalized == "overwrite") existing.map(_.files.map(_.path)).getOrElse(Nil) else Nil

    // what this write planned its metadata emission against — a lost
    // race may have committed concurrent DDL (constraint, column
    // mapping, bucketing change): our `meta`/`config` were derived
    // from the pre-race snapshot, so re-emitting them would silently
    // drop the winner's metadata. Fail with the same conflict type
    // tryCommit races surface.
    val plannedBase = existing.map(s =>
      (s.schema, s.metadata.partitionColumns, s.metadata.configuration))
    def assertNoMetaDivergence(cur: Snapshot): Unit = {
      val curBase = (cur.schema, cur.metadata.partitionColumns, cur.metadata.configuration)
      plannedBase match {
        case None =>
          throw new java.util.ConcurrentModificationException(
            s"Table $path was created concurrently with this write")
        case Some(p) if p != curBase =>
          throw new java.util.ConcurrentModificationException(
            s"Concurrent metadata change on $path during write " +
              "(schema, partitioning, or configuration diverged); re-run the write")
        case _ => ()
      }
    }
    // On retry: metadata-divergence check FIRST (a metadata read),
    // constraint re-validation second (a full scan of the batch) —
    // never pay the scan for an attempt the divergence guard dooms.
    val recheck = () => {
      val cur = snapshot(path)
      assertNoMetaDivergence(cur)
      enforceConstraints(aligned, cur)
    }
    commitWithRetry(retryable = normalized == "append", onRetry = recheck) { version =>
      testCommitAttemptHook(version)
      // belt-and-braces per attempt (also covers a race between the
      // planning read and the FIRST attempt, which skips onRetry)
      if (version > 0L) assertNoMetaDivergence(snapshot(path, version - 1))
      val actions = Seq.newBuilder[com.fasterxml.jackson.databind.node.ObjectNode]
      actions += commitInfoAction(
        if (normalized == "overwrite") "WRITE.Overwrite" else "WRITE.Append",
        Map("mode" -> normalized, "partitionBy" -> partCols.mkString(",")) ++ operationParams,
        // stamped per attempt: a retried commit must not record a
        // timestamp older than the commit it lost the race to
        System.currentTimeMillis())
      if (version == 0L) actions += protocolAction()
      if (version == 0L || existing.forall(_.schema != targetSchema) ||
          existing.forall(_.metadata.partitionColumns != partCols) ||
          existing.forall(_.metadata.configuration != config))
        actions += metadataAction(meta)
      removes.foreach(p => actions += removeAction(p, ts))
      adds.foreach(a => actions += addAction(a))
      actions.result()
    }
  }

  /** Routes rows so the write-task index IS the bucket id (see
    * Bucketing's scaladoc), optionally sorting within each bucket.
    */
  private def bucketize(df: DataFrame, bucketing: Option[Bucketing]): DataFrame =
    bucketing match {
      case None => df
      case Some(b) =>
        val routed = df.repartition(b.numBuckets, b.columns.map(col): _*)
        if (b.sortColumns.isEmpty) routed
        else routed.sortWithinPartitions(b.sortColumns.map(col): _*)
    }

  /** Snapshot restricted to the files that can contain a row matched
    * by `src` on `keys`, under the table's bucketing: when the bucket
    * columns are a subset of the merge keys, a matching target row's
    * bucket id is DERIVABLE from the source row (same hash Spark's
    * repartition assigned at write time — `pmod(murmur3(bucketCols),
    * n)`, `functions.hash` is that murmur3), so every file in a bucket
    * the source never hashes into is pruned from the probe and the
    * rewrite read WITHOUT being scanned. One map-side pass over the
    * source computes the ≤ numBuckets distinct ids.
    *
    * On top of the layout's plan win (the bucketed scan reports
    * HashPartitioning, so the probe join's TARGET side needs no
    * exchange — only the small source side shuffles), this makes a
    * key-local merge scan O(touched buckets / numBuckets) of the
    * table. Unbucketed tables, bucket columns outside the keys, or
    * any unsuffixed file fall back to the full snapshot.
    */
  private def bucketPrunedSnapshot(
      snap: Snapshot, src: DataFrame, keys: Seq[String]): Snapshot =
    prunableBucketing(snap) match {
      case Some(b) if b.columns.forall(keys.contains) =>
        pruneToBuckets(snap,
          sourceBucketIds(src, b.columns.map(c => src(c)), b.numBuckets))
      case _ => snap
    }

  /** The table's bucketing iff every live file carries a parseable
    * bucket suffix IN RANGE (< numBuckets) — the precondition for
    * file-level bucket pruning. An out-of-range suffix (a foreign file
    * whose name happens to end in digits) can never be hashed into by
    * any source row, so allowing it would silently exclude that file
    * from every pruned probe (missed matches); it must disqualify
    * pruning instead.
    */
  private def prunableBucketing(snap: Snapshot): Option[Bucketing] =
    bucketingOf(snap).filter(b => snap.files.nonEmpty &&
      snap.files.forall(f => Bucketing.bucketIdOf(fileNameOf(f.path))
        .exists(id => id >= 0 && id < b.numBuckets)))

  /** Distinct bucket ids the source side hashes into — ONE map-side
    * pass + a ≤ numBuckets-row collect. `exprs` must produce, in
    * bucket-column order, values equal to the STORED bucket-column
    * values of any row they can match (same type ⇒ same murmur3).
    */
  private def sourceBucketIds(
      src: DataFrame, exprs: Seq[Column], numBuckets: Int): Set[Int] =
    src.select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(exprs: _*),
        lit(numBuckets)).as("__graft_bucket"))
      .distinct().collect().map(_.getInt(0)).toSet

  private def pruneToBuckets(snap: Snapshot, ids: Set[Int]): Snapshot =
    snap.copy(files = snap.files.filter(f =>
      Bucketing.bucketIdOf(fileNameOf(f.path)).exists(ids.contains)))

  /** For a general MERGE ON condition: the source-side expressions
    * equi-joined to each bucket column, when the condition's top-level
    * conjuncts pin EVERY bucket column as `target.<bucketCol> =
    * <source-only expression>` (either side). For SQL MERGE the
    * analyzer has already type-aligned both sides of each equality
    * (a coerced target side appears as a Cast, not a bare attribute,
    * and disqualifies the conjunct) — but `mergeInto` is a public API
    * and a programmatic condition arrives UN-coerced, so a bare
    * target attribute can sit against a source expression of a
    * DIFFERENT type (INT bucket column = LONG source attr). Murmur3
    * is type-dependent (hash(1: Int) ≠ hash(1L)), so such a conjunct
    * would prune buckets that contain real matches. Both cases
    * therefore also require the source expression's dataType to equal
    * the target attribute's — mismatched (or unresolvable) types fall
    * back to the unpruned probe, which is always correct.
    * A returned expression's murmur3 over equal values then equals
    * the write-time bucket hash of the stored column.
    * None ⇒ the condition does not determine the bucket ⇒ no pruning.
    */
  private def equiSourceExprsForBuckets(
      b: Bucketing, probe: DataFrame, src: DataFrame,
      cond: Column): Option[Seq[Column]] = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression => CExpr}
    def conjuncts(e: CExpr): Seq[CExpr] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val probeAttrName: Map[Long, String] = probe.queryExecution.analyzed.output
      .map(a => a.exprId.id -> a.name).toMap
    val srcIds: Set[Long] = src.queryExecution.analyzed.output.map(_.exprId.id).toSet
    def sourceOnly(e: CExpr): Boolean =
      e.references.nonEmpty && e.references.forall(a => srcIds(a.exprId.id)) &&
        e.deterministic
    // dataType throws on unresolved expressions — treat those as a
    // type mismatch (disqualify), never as a crash
    def sameType(a: AttributeReference, e: CExpr): Boolean =
      scala.util.Try(e.dataType).toOption.contains(a.dataType)
    val eqMap: Map[String, CExpr] = conjuncts(SparkBridge.expression(cond))
      .flatMap {
        case EqualTo(a: AttributeReference, rhs)
            if probeAttrName.contains(a.exprId.id) && sourceOnly(rhs) &&
              sameType(a, rhs) =>
          Some(probeAttrName(a.exprId.id) -> rhs)
        case EqualTo(lhs, a: AttributeReference)
            if probeAttrName.contains(a.exprId.id) && sourceOnly(lhs) &&
              sameType(a, lhs) =>
          Some(probeAttrName(a.exprId.id) -> lhs)
        case _ => None
      }.toMap
    val exprs = b.columns.map(eqMap.get)
    if (exprs.forall(_.isDefined)) Some(exprs.flatten.map(SparkBridge.column))
    else None
  }

  /** MERGE upsert (U3): update-all-when-matched / insert-all-when-not,
    * keys from the table manifest PKs
    * (/root/reference/src/component.py:238-260). Copy-on-write with
    * file pruning: one probe semi-joins the snapshot (cut to the
    * buckets the source keys hash into, see [[bucketPrunedSnapshot]])
    * to the source keys — no dedup: a semi-join emits each target row
    * at most once — and [[probeTouched]] counts its matches per file,
    * which name the
    * files to rewrite and give the commitInfo's
    * `numTargetFilesRewritten` / `numTargetRowsMatched`, and
    * [[rewriteTouched]] commits the rewrite; merge-on-read records the
    * matches as DV pairs ([[commitMorDeletes]]). A duplicate source key
    * lands every one of its rows (`MergeOps.upsert` semantics), where
    * SQL MERGE ([[mergeInto]]) raises a cardinality error.
    */
  def merge(
      source: DataFrame,
      keys: Seq[String],
      operationParams: Map[String, String] = Map.empty): Unit = {
    if (keys.isEmpty)
      throw UserException(
        "Upsert mode requires primary keys to be defined in the table manifest.")
    if (!exists) { write(source, "append", operationParams = operationParams); return }
    val snap = snapshot(path)
    val src = alignToSchema(source, snap.schema).cache()
    try {
      enforceConstraints(src, snap)
      val params = operationParams ++ Map("keys" -> keys.mkString(","))
      // on a bucketed target the bucketed scan's HashPartitioning means
      // the probe join never exchanges the target side
      val srcKeys = src.select(keys.map(col): _*)
      val withFile = readWithProvenance(bucketPrunedSnapshot(snap, srcKeys, keys))
      val hits = withFile.join(srcKeys,
        keys.map(k => withFile(k) === srcKeys(k)).reduce(_ && _), "left_semi")
      if (mergeModeOf(snap) == "merge-on-read")
        // upsert ≡ delete every key-matched target row + append all
        // source rows (MergeOps.upsert algebra)
        commitMorDeletes(snap, hits, Some(src), "MERGE", params)
      else {
        val (matched, touched) = probeTouched(snap, hits)
        // Rewrite = (touched-file rows not matching) ∪ source rows: a
        // source row matching an untouched file cannot exist by
        // construction, so all source rows land in the rewrite.
        val old = if (touched.isEmpty) emptyFrame(snap.schema) else readFiles(snap, touched)
        // the commitInfo records how much of the table the probe pruned
        rewriteTouched(snap, touched, graft.operators.MergeOps.upsert(old, src, keys), "MERGE",
          params ++ Map("numTargetFilesRewritten" -> touched.size.toString,
            "numTargetRowsMatched" -> matched.values.sum.toString))
      }
    } finally src.unpersist()
  }

  /** General SQL MERGE (the reference's generated `MERGE INTO … WHEN
    * MATCHED THEN UPDATE … WHEN NOT MATCHED THEN INSERT …`,
    * /root/reference/src/component.py:249-258, plus conditioned clauses,
    * DELETE actions and NOT MATCHED BY SOURCE), in Delta's two passes
    * for both storage modes. The first pass joins the probe to the
    * source once, numbers the acting clause of every row
    * ([[MergeSpec]]'s compiler), caches the rows a clause claims or a
    * source row matched, and one stats job over that cache gives the
    * ANSI cardinality verdict, the claimed rows per file and the
    * matched-row count. The second pass commits, and only there do the
    * modes differ: merge-on-read records the claimed rows as DV pairs
    * and appends their post-clause versions plus the inserts
    * ([[commitMorDeletes]]); copy-on-write rewrites the files holding
    * claimed rows — their other rows, the post-clause rows and the
    * inserts — through [[rewriteTouched]].
    *
    * `build` is called with concrete (target, source) frames and must
    * return the clause spec resolved against THEM — this inversion lets
    * the SQL command layer rebind analyzed expressions onto whichever
    * probe the engine scans (the full snapshot or its bucket-pruned
    * subset) without the engine knowing about Catalyst attributes.
    *
    * Clause order is SQL's: the first WHEN whose condition holds acts.
    * A target row matching >1 source row errors when a MATCHED clause
    * exists (ANSI cardinality rule).
    */
  def mergeInto(source: DataFrame)(build: (DataFrame, DataFrame) => MergeSpec): Unit = {
    if (!exists)
      throw UserException(s"MERGE INTO target does not exist: $path")
    val snap = snapshot(path)
    val src = source.cache()
    try {
      // the probe carries __graft_file/__graft_row provenance (derived
      // below any DV filter); extra columns are invisible to clause
      // expressions, which bind by name to the schema columns
      val fullProbe = readWithProvenance(snap)
      val fullSpec = build(fullProbe, src)
      fullSpec.matched.foreach {
        case _: MergeClause.Insert => throw UserException(
          "MERGE: INSERT is not a valid WHEN MATCHED action")
        case _ => ()
      }
      // Bucket-derived probe pruning (bucketPrunedSnapshot's scaladoc),
      // generalized to the SQL MERGE's ON condition: when the
      // condition's conjuncts pin every bucket column to a source-only
      // expression, matches (and therefore inserts' anti-join misses)
      // can only involve files in the buckets the source hashes into.
      // NOT MATCHED BY SOURCE disqualifies pruning outright — an
      // unmatched target row can live in any bucket.
      val (probe, spec) =
        (if (fullSpec.notMatchedBySource.nonEmpty) None
         else prunableBucketing(snap).flatMap { b =>
           equiSourceExprsForBuckets(b, fullProbe, src, fullSpec.condition)
             .map { exprs =>
               val pruned = pruneToBuckets(snap,
                 sourceBucketIds(src, exprs, b.numBuckets))
               val p = readWithProvenance(pruned)
               (p, build(p, src))
             }
         }).getOrElse((fullProbe, fullSpec))
      // ONE target-side join pass feeds everything downstream. The
      // source of a standing MERGE pipeline is batch-sized — orders of
      // magnitude under the table — so the preferred plan broadcasts it
      // into a left_outer over the probe (no shuffle of the table at
      // all; measured from the source's plan stats, gated like the DV
      // broadcast). A too-big source falls back to full_outer: ONE
      // table shuffle that serves matched AND insert rows. The
      // matched-empty shape keeps the semi/anti split
      // ([[MergeSpec.joinSource]]).
      val tPresent = col("__graft_file").isNotNull
      // plan-stats estimate — deliberately NOT an exact count (a
      // standalone materializing job costs ~a second that the first
      // real consumer would overlap for free). Estimates for projected
      // sources run high, so the gate is 4× the DV broadcast budget;
      // the 8 GB driver-side broadcast hard cap still backstops a
      // pathological under-estimate.
      val srcFits = src.queryExecution.optimizedPlan.stats.sizeInBytes <= 4 * DvBroadcastBytes
      val outer = !srcFits && spec.notMatched.nonEmpty
      val sPresent = MergeSpec.SourcePresent
      val claimed = MergeSpec.ClauseIndex >= 0
      // the single materialized frame: matched pairs (cardinality
      // check), clause-claimed target rows (deletes + post-clause
      // rows), and source-unmatched rows (full_outer's inserts).
      // O(affected rows), never O(table): target rows no clause can
      // touch are dropped inside the join task and never reach the
      // cache. The tPresent guard keeps full_outer's probe-null insert
      // rows out of the matched clauses.
      val changes = spec.withClauseIndex(
          spec.joinSource(probe, src, if (outer) "full_outer" else "left_outer", srcFits),
          tPresent)
        .where(sPresent || claimed).cache()
      try {
        // ONE stats job over the cached frame materializes it: level 1
        // groups matched pairs by target row id ((file, row index)),
        // level 2 rolls up to the file grain — file count is
        // metadata-sized, so the collect is safe at any scale. The
        // shuffle makes the verdict exact however the scan splits a
        // file across tasks.
        val fileStats = changes.where(tPresent)
          .groupBy(col("__graft_file"), col("__graft_row"))
          .agg(sum(when(sPresent, 1L).otherwise(0L)).as("__m"),
            max(when(claimed, 1L).otherwise(0L)).as("__a"))
          .groupBy(col("__graft_file"))
          .agg(sum(col("__a")).as("__claimed"), max(col("__m")).as("__maxm"),
            sum(when(col("__m") > 0, 1L).otherwise(0L)).as("__matched"))
          .collect()
        // ANSI cardinality rule, counted over ALL matched pairs, claimed
        // or not: a doubly-matched row is ambiguous even when clause
        // conditions end up claiming neither copy
        if (spec.matched.nonEmpty && fileStats.exists(r => r.getLong(2) > 1))
          throw UserException(
            "MERGE: a target row matched multiple source rows; " +
              "deduplicate the source on the merge keys first")
        val claimedCounts: Map[String, Long] = fileStats
          .filter(_.getLong(1) > 0)
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val params = spec.clauseCounts +
          ("numTargetRowsMatched" -> fileStats.map(_.getLong(3)).sum.toString)
        // only rows a clause CLAIMS leave their files
        val acted = changes.where(claimed)
        // under full_outer the probe-null rows ARE the unmatched source
        // rows — no separate anti-join pass. The broadcast shapes
        // anti-join instead: column pruning cuts the probe scan to the
        // condition's columns and AQE broadcasts the small build side,
        // so it never re-shuffles the table.
        val inserts = Option.when(spec.notMatched.nonEmpty)(spec.insertRows(
          if (snap.files.isEmpty) src
          else if (spec.matched.nonEmpty && outer) changes.where(!tPresent)
          else src.join(probe, spec.condition, "left_anti"), snap.schema))
        val changed = (spec.applyClauses(acted, probe, snap.schema) +: inserts.toSeq)
          .reduce(_ unionByName _)
        enforceConstraints(changed, snap)
        if (mergeModeOf(snap) == "merge-on-read")
          commitMorDeletes(snap, acted, Some(changed), "MERGE", params,
            newCounts = Some(claimedCounts))
        else {
          val touched = touchedBy(snap, claimedCounts)
          // the touched files' rows minus the claimed (file, row) pairs
          def kept = readWithProvenance(snap.copy(files = touched))
            .join(acted.select(col("__graft_file"), col("__graft_row")),
              Seq("__graft_file", "__graft_row"), "left_anti")
            .drop("__graft_file", "__graft_row")
          if (touched.nonEmpty || inserts.nonEmpty)
            rewriteTouched(snap, touched,
              if (touched.isEmpty) changed else kept.unionByName(changed), "MERGE",
              params + ("numTargetFilesRewritten" -> touched.size.toString))
        }
      } finally changes.unpersist()
    } finally src.unpersist()
  }

  /** Metadata-only CREATE TABLE: schema + partitioning + configuration
    * committed as version 0, no data files (the DSv2 catalog's
    * `createTable`; writes bootstrap the same way when the table is
    * created by a first append).
    */
  private[graft] def createEmpty(
      schema: StructType,
      partitionBy: Seq[String],
      configuration: Map[String, String]): Unit = {
    val missing = partitionBy.filterNot(schema.fieldNames.contains)
    if (missing.nonEmpty)
      throw UserException(s"Partition columns not in schema: ${missing.mkString(",")}")
    LakeTable.checkProperties(configuration)
    val ts = System.currentTimeMillis()
    val meta = Metadata(UUID.randomUUID().toString, schema, partitionBy, configuration)
    // pinned at version 0: a concurrent creation race must fail, not stack
    if (exists) throw UserException(s"Table already exists at $path (mode=error).")
    commitPinned(-1L, Seq(
      commitInfoAction("CREATE TABLE",
        Map("partitionBy" -> partitionBy.mkString(",")), ts),
      protocolAction(), metadataAction(meta)))
  }

  /** DELETE: rows matching `condition` are removed; NULL-valued
    * conditions keep the row (SQL DELETE semantics). Shares one body
    * with [[update]] ([[rewriteMatches]]): on a copy-on-write table one
    * probe job ([[probeTouched]]) counts the matches per file — the
    * counts name the touched files and sum to the deleted rows, since
    * the probe and the rewrite read the same files under the same DV
    * filter — and [[rewriteTouched]] rewrites those files without them;
    * untouched files survive as-is. On a merge-on-read table the
    * matched rows become DV pairs — no file is rewritten, write cost
    * O(deleted rows) — the scale-safe strategy for a standing
    * GDPR-delete pipeline with scattered keys. Returns the number of
    * deleted rows.
    */
  def delete(condition: Column): Long = rewriteMatches(condition, None)

  /** UPDATE: rows matching `condition` get each column in
    * `assignments` replaced by its expression (evaluated against the
    * OLD row, SQL UPDATE semantics). Same probe and rewrite as
    * [[delete]] ([[rewriteMatches]]): copy-on-write rewrites only the
    * files containing matches; merge-on-read DVs the old row versions
    * and appends the new ones — write cost O(updated rows), not
    * O(touched bytes). Returns the number of updated rows.
    */
  def update(condition: Column, assignments: Map[String, Column]): Long =
    rewriteMatches(condition, Some(assignments))

  /** DELETE and UPDATE in one: a DELETE is an UPDATE (`assignments`
    * None) that drops the matched rows instead of rewriting them.
    */
  private def rewriteMatches(
      condition: Column, assignments: Option[Map[String, Column]]): Long = {
    if (!exists) return 0L
    val snap = snapshot(path)
    val badCols = assignments.fold(Set.empty[String])(_.keySet.diff(snap.schema.fieldNames.toSet))
    if (badCols.nonEmpty)
      throw UserException(s"UPDATE of unknown columns: ${badCols.mkString(",")}")
    val op = if (assignments.isEmpty) "DELETE" else "UPDATE"
    // `df` with the assigned columns replaced where `isMatch` holds
    // (on every row when None), checked against the constraints
    def updated(df: DataFrame, assigns: Map[String, Column], isMatch: Option[Column]) = {
      val out = df.select(snap.schema.fields.toSeq.map { f =>
        assigns.get(f.name).fold(col(f.name))(e =>
          isMatch.fold(e)(m => when(m, e).otherwise(col(f.name))).cast(f.dataType).as(f.name))
      }: _*)
      enforceConstraints(out, snap)
      out
    }
    val hits = readWithProvenance(snap).where(condition)
    if (mergeModeOf(snap) == "merge-on-read")
      return commitMorDeletes(snap, hits, assignments.map(updated(hits, _, None)), op, Map.empty)
    val (matched, touched) = probeTouched(snap, hits)
    if (matched.isEmpty) return 0L
    // the probe read the rewrite's files under the same DV filter, so
    // its counts ARE the matched rows — no second count job
    val n = matched.values.sum
    val old = readFiles(snap, touched)
    val isMatch = coalesce(condition, lit(false))
    rewriteTouched(snap, touched,
      assignments.fold(old.where(!isMatch))(updated(old, _, Some(isMatch))), op,
      Map((if (assignments.isEmpty) "numDeleted" else "numUpdated") -> n.toString))
    n
  }

  /** Small-file compaction (OPTIMIZE): partitions whose live-file
    * count exceeds `minFilesPerPartition` are rewritten into one file
    * per partition. Streaming ingest commits per micro-batch and at
    * 100 TB that means millions of small files — compaction restores
    * scan efficiency (fewer tasks, bigger sequential reads) without
    * changing data, so reads before/after are equivalent and time
    * travel still sees the old files.
    * Returns the number of files removed.
    */
  def compact(minFilesPerPartition: Int = 2): Int =
    compactImpl(minFilesPerPartition, Nil, 0)

  /** Clustered compaction (the OPTIMIZE ZORDER analog, 1-D): rewrites
    * the selected files RANGE-partitioned and sorted on `sortBy`, so
    * each output file owns a disjoint value range — which is what
    * makes min/max data skipping effective on data that arrived
    * unclustered. `targetFiles` controls output granularity
    * (0 = one per input partition group).
    */
  def compactSorted(sortBy: Seq[String], targetFiles: Int = 0,
      minFilesPerPartition: Int = 1): Int =
    compactImpl(minFilesPerPartition, sortBy, targetFiles)

  /** Multi-dimensional clustering (OPTIMIZE ZORDER): rewrites files
    * ordered by the Morton interleave of `cols`, giving useful min/max
    * skipping on every clustered dimension simultaneously.
    */
  def compactZOrder(cols: Seq[String], targetFiles: Int = 0): Int = {
    if (bucketing.isDefined)
      throw UserException(
        "Sorted/Z-order compaction would destroy the table's hash-bucket " +
          "layout; rewrite with an unbucketed overwrite first.")
    val ranges = ZOrder.ranges(read(), cols)
    compactImpl(1, Nil, targetFiles,
      zorder = Some(df =>
        ZOrder.zvalue(cols.map(c => (df(c), df.schema(c).dataType)), ranges)))
  }

  private def compactImpl(
      minFilesPerPartition: Int,
      sortBy: Seq[String],
      targetFiles: Int,
      zorder: Option[DataFrame => Column] = None): Int = {
    val snap = snapshot(path)
    val bucketed = bucketingOf(snap)
    if (bucketed.isDefined && (sortBy.nonEmpty || zorder.isDefined))
      throw UserException(
        "Sorted/Z-order compaction would destroy the table's hash-bucket " +
          "layout; rewrite with an unbucketed overwrite first.")
    // a file carrying a deletion vector always qualifies: OPTIMIZE is
    // the step that materializes merge-on-read deletes back into clean
    // files (the DV parquet itself is vacuumed once unreferenced)
    val groups = snap.files.groupBy(_.partitionValues)
      .filter { case (_, fs) =>
        fs.size >= minFilesPerPartition || fs.exists(_.dv.isDefined)
      }
    if (groups.isEmpty) return 0
    val toCompact = groups.values.flatten.toSeq
    val raw = readFiles(snap, toCompact)
    val n = if (targetFiles > 0) targetFiles else math.max(groups.size / 4, 1)
    val df = zorder match {
      case Some(z) =>
        raw.withColumn("__z", z(raw))
          .repartitionByRange(n, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
      case None if sortBy.nonEmpty =>
        raw.repartitionByRange(n, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      // Bucketed compaction folds each bucket's small files into one
      // file per bucket — writeFor re-derives the layout, never inferred
      // from the inputs, so mixed small files re-cluster correctly.
      case None if bucketed.isDefined => raw
      case None => raw.coalesce(n)
    }
    val adds = writeFor(snap, df)
    val ts = System.currentTimeMillis()
    val actions = Seq.newBuilder[com.fasterxml.jackson.databind.node.ObjectNode]
    actions += commitInfoAction("OPTIMIZE",
      Map("numRemoved" -> toCompact.size.toString, "numAdded" -> adds.size.toString), ts)
    // dataChange=false: compaction moves bytes, not facts — CDC /
    // incremental readers must not re-emit the rewritten rows
    toCompact.foreach(f => actions += removeAction(f.path, ts, dataChange = false))
    adds.foreach(a => actions += addAction(a.copy(dataChange = false)))
    commitRewriteRebase(snap, toCompact, actions.result())
    toCompact.size
  }

  /** Files.walk fully drained with the stream CLOSED (a bare walk
    * leaks a descriptor per call until GC).
    */
  private def walkClosed(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Deletes data files unreferenced by the current snapshot (VACUUM).
    * `retainMillis` keeps unreferenced files younger than the window
    * (by mtime) — Delta's `RETAIN n HOURS` guard for readers still
    * holding a just-superseded version; 0 deletes immediately (local
    * dev semantics).
    */
  def vacuum(retainMillis: Long = 0L): Int = {
    val snap = snapshot(path)
    val live = snap.files.map(f => resolvePath(path, f.path).normalize).toSet
    // referenced DV parquets are live table state (their parts live
    // under the DV's directory); unreferenced DV dirs vacuum like any
    // superseded data file
    val liveDvDirs = snap.files.flatMap(_.dv).map(_.path).distinct
      .map(p => resolvePath(path, p).normalize)
    val cutoff = System.currentTimeMillis() - math.max(0L, retainMillis)
    var removed = 0
    walkClosed(path)
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .filterNot(p => p.startsWith(logDir(path)))
      .filterNot(p => live.contains(p.normalize))
      .filterNot(p => liveDvDirs.exists(d => p.normalize.startsWith(d)))
      .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
      .foreach { p => Files.delete(p); removed += 1 }
    removed
  }

  // ---- internals ----------------------------------------------------------

  /** Optimistic commit for APPENDS (commute with concurrent appends):
    * losers of a version race re-read the log and try the next slot.
    * `onRetry` runs before each re-attempt so the caller can re-check
    * state the winning commit may have changed (e.g. a constraint
    * added between our validation and our commit).
    */
  /** Test seam: invoked at the start of every write commit attempt
    * with the version it targets, so specs can inject a concurrent
    * commit between planning and committing and exercise the retry
    * paths deterministically. No-op in production.
    */
  private[graft] var testCommitAttemptHook: Long => Unit = _ => ()

  private def commitWithRetry(
      retryable: Boolean,
      onRetry: () => Unit = () => ())(
      mkActions: Long => Seq[com.fasterxml.jackson.databind.node.ObjectNode]): Unit = {
    var attempts = 0
    var done = false
    while (!done) {
      val next = latestVersion(path) + 1
      done = tryCommit(path, next, mkActions(next))
      if (done) maybeCheckpoint(path, next)
      else {
        attempts += 1
        if (!retryable || attempts > 20)
          throw new java.util.ConcurrentModificationException(
            s"Commit conflict on $path at version $next")
        onRetry()
      }
    }
  }

  /** Pinned commit for SNAPSHOT-DERIVED operations (merge, delete,
    * update, compaction, restore): the action list was computed
    * against `baseVersion`, so it may only land as `baseVersion + 1` —
    * any interleaved commit invalidates the read set and the caller
    * must re-run against the new snapshot. Without the pin, a restore
    * or merge racing an append would silently commit a state mixing
    * both histories.
    */
  private def commitPinned(
      baseVersion: Long,
      actions: Seq[com.fasterxml.jackson.databind.node.ObjectNode]): Unit = {
    val next = baseVersion + 1
    if (!tryCommit(path, next, actions))
      throw new java.util.ConcurrentModificationException(
        s"Concurrent commit on $path invalidated the snapshot at version " +
          s"$baseVersion; re-run against the latest version")
    maybeCheckpoint(path, next)
  }

  /** Commit for data-preserving rewrites (the OPTIMIZE family: compact,
    * Z-order, DV materialization) planned against `base`. Unlike DML,
    * a rewrite moves bytes without changing facts, so it can REBASE
    * over winners that did not disturb its inputs — pure appends, DML
    * on other files — instead of failing the way [[commitPinned]]
    * must. It still fails when an input file is gone or carries a
    * different deletion vector than it was read with: rebasing past a
    * winner's OPTIMIZE would drop that rewrite, and rebasing past a
    * winner's merge-on-read DELETE would RESURRECT the deleted rows
    * (our output was materialized from the old DV).
    */
  private[graft] def commitRewriteRebase(
      base: Snapshot,
      inputs: Seq[AddFile],
      actions: Seq[com.fasterxml.jackson.databind.node.ObjectNode]): Unit = {
    var ver = base.version
    var attempts = 0
    while (!tryCommit(path, ver + 1, actions)) {
      attempts += 1
      if (attempts > 20)
        throw new java.util.ConcurrentModificationException(
          s"Commit contention on $path: rewrite lost ${attempts} races")
      val now = snapshot(path)
      if (now.metadata.id != base.metadata.id ||
          now.metadata.schema != base.metadata.schema ||
          now.metadata.partitionColumns != base.metadata.partitionColumns)
        throw new java.util.ConcurrentModificationException(
          s"Concurrent metadata change on $path invalidated the rewrite")
      val live = now.files.map(f => f.path -> f).toMap
      inputs.foreach { in =>
        if (!live.get(in.path).exists(_.dv == in.dv))
          throw new java.util.ConcurrentModificationException(
            s"Concurrent DML disturbed rewrite input ${in.path} on $path; " +
              "re-run against the latest version")
      }
      ver = now.version
    }
    maybeCheckpoint(path, ver + 1)
  }

  /** Parallelizes a large SINGLE-SPLIT write. A staged INSERT whose
    * source scans as one task (a single parquet row group is Spark's
    * atomic split) would otherwise encode the whole table's parquet on
    * one core — measured at sf1: a 1M-row INSERT took 3.9 s single-task
    * (≈ the bare serial parquet encode) vs ~0.5 s spread over 32
    * (BENCHNOTES_r7). Repartitioning is CONTENT-HASHED over all
    * columns, not round-robin: round-robin assignment depends on row
    * order, so Spark must locally pre-sort every source partition for
    * retry-determinism — the same serialized pass in a different
    * stage — while hash assignment depends only on row values
    * (deterministic under retry, nothing to sort). Worst case (every
    * row identical) degrades to today's single-writer layout, never a
    * wrong result. Gated exactly like Dedup.rebalance: planned
    * parallelism far below the session's AND input big enough to pay
    * for the exchange — a no-op on multi-split inputs, i.e. at real
    * scale. Partitioned and bucketed writes are left alone (they
    * manage their own layout; a blind repartition would multiply
    * files-per-partition-value or break bucket-id encoding).
    */
  private def spreadForWrite(
      df: DataFrame,
      partitionBy: Seq[String],
      bucketing: Option[Bucketing]): DataFrame = {
    val cols = df.schema.fieldNames
    // join/aggregate/window-shaped sources (MERGE rewrites, INSERT
    // SELECT ... GROUP BY) already carry shuffle parallelism — skip
    // them on the LOGICAL plan, before the getNumPartitions probe
    // below builds a throwaway physical plan per statement
    def alreadyParallelShape: Boolean = {
      import org.apache.spark.sql.catalyst.plans.logical._
      df.queryExecution.optimizedPlan.exists {
        case _: Join | _: Aggregate | _: Window | _: RepartitionOperation => true
        case _ => false
      }
    }
    if (partitionBy.nonEmpty || bucketing.nonEmpty || cols.isEmpty ||
        alreadyParallelShape) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      // 64 MB floor, not "bigger than tiny": below it the serial
      // encode is cheaper than what the scatter costs the COMMIT —
      // 32 small files ⇒ 32 fsyncs + 32 log entries per statement
      // (measured: the sf0.1 q59 INSERT+MERGE doubled under a 1 MB
      // gate, while the sf1 1M-row encode win needs the spread;
      // estimates sit ~25 MB vs ~250 MB — clean separation)
      if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= (1L << 26)) df
      else if (df.queryExecution.toRdd.getNumPartitions * 4 < target)
        // the hash scatter destroys whatever row clustering the source
        // had, which costs parquet encode + compression (and file-skip
        // stats); a per-partition sort on the leading columns restores
        // it — 32 parallel sorts of n/32 rows each, trivial next to
        // the encode it speeds up
        df.repartition(target, cols.toSeq.map(col): _*)
          .sortWithinPartitions(cols.toSeq.map(col): _*)
      else df
    }
  }

  /** Writes `df` as parquet files inside the table directory (staged in
    * a temp subdir, then renamed — same filesystem, so moves are
    * cheap metadata ops) and returns the add actions.
    */
  private def writeDataFiles(
      df: DataFrame,
      partitionBy: Seq[String],
      compression: String,
      bucketing: Option[Bucketing] = None,
      mapping: Map[String, String] = Map.empty): Seq[AddFile] = {
    Files.createDirectories(path)
    val stage = path.resolve(s".stage-${UUID.randomUUID().toString.take(8)}")
    // files store PHYSICAL column names (column mapping)
    val mapped =
      if (mapping.isEmpty) df
      else df.select(df.schema.fieldNames.toSeq.map(n =>
        col(n).as(physicalOf(mapping, n))): _*)
    val physical = spreadForWrite(mapped, partitionBy, bucketing)
    val writer = physical.write.option("compression", compression)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(stage.toString)

    val files = walkClosed(stage)
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
    val moved = files.map { f =>
      // Under a bucketed write (input repartitioned on the bucket
      // keys), the task index in the part-file name is the bucket id;
      // re-encode it as Spark's `_NNNNN` suffix so the scan side
      // recognizes the file's bucket.
      val rel = bucketing match {
        case Some(_) =>
          val name = f.getFileName.toString
          val id = Bucketing.partIndexOf(name).getOrElse(
            throw new IllegalStateException(s"Unrecognized part-file name: $name"))
          val dot = name.indexOf('.')
          val renamed = name.substring(0, dot) + Bucketing.suffix(id) + name.substring(dot)
          stage.relativize(f.resolveSibling(renamed)).toString
        case None => stage.relativize(f).toString
      }
      val dest = path.resolve(rel)
      Files.createDirectories(dest.getParent)
      Files.move(f, dest)
      rel -> dest
    }
    val stats = FileStats.forFiles(moved.map(_._2), spark.sessionState.newHadoopConf())
    val adds = moved.zip(stats).map { case ((rel, dest), s) =>
      AddFile(rel, partitionValuesOf(rel), Files.size(dest),
        Files.getLastModifiedTime(dest).toMillis, stats = s)
    }
    // best-effort cleanup of the stage scaffolding (_SUCCESS, dirs)
    walkClosed(stage).reverse.foreach { p =>
      try Files.deleteIfExists(p) catch { case _: Throwable => () }
    }
    adds
  }

  /** Parses hive-style `col=value` dirs from a relative file path. */
  private def partitionValuesOf(rel: String): Map[String, String] =
    rel.split('/').dropRight(1).flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) =>
          val dec = URLDecoder.decode(v, StandardCharsets.UTF_8)
          Some(k -> (if (dec == "__HIVE_DEFAULT_PARTITION__") null else dec))
        case _ => None
      }
    }.toMap

  private def mergeSchemas(existing: StructType, incoming: StructType, allowNew: Boolean): StructType = {
    val existingNames = existing.fieldNames.toSet
    val newFields = incoming.fields.filterNot(f => existingNames.contains(f.name))
    if (newFields.nonEmpty && !allowNew)
      throw UserException(
        s"Schema mismatch: new columns ${newFields.map(_.name).mkString(",")} " +
          "(enable mergeSchema to evolve).")
    StructType(existing.fields ++ newFields.map(f => StructField(f.name, f.dataType, nullable = true)))
  }

  /** Order, add-missing-as-null, and cast `df` to `schema`. */
  private def alignToSchema(df: DataFrame, schema: StructType): DataFrame = {
    val cols: Seq[Column] = schema.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols: _*)
  }
}

object LakeTable {
  /** Table-config key prefix for ENFORCED CHECK constraints. */
  private[graft] val ConstraintPrefix = "graft.constraint."

  /** Table-config key selecting the MERGE strategy
    * (copy-on-write default | merge-on-read).
    */
  private[graft] val MergeModeKey = "graft.merge.mode"

  /** DV steady-state policy keys (see the policy section's comment):
    * auto-materialize toggle (default true), per-file deleted-fraction
    * threshold (default 0.5), summed-DV-bytes ceiling (default = the
    * 64 MB broadcast gate).
    */
  private[graft] val DvAutoOptimizeKey = "graft.dv.autoOptimize"
  private[graft] val DvMaxRatioKey = "graft.dv.maxRatio"
  private[graft] val DvMaxBytesKey = "graft.dv.maxBytes"

  /** Rejects a malformed merge-mode or DV-policy value in `props` with
    * an error naming the key and the value, so it fails the ALTER or
    * CREATE that sets it instead of a later DML.
    */
  private[lake] def checkProperties(props: Map[String, String]): Unit =
    props.foreach { case (k, v) =>
      val expected = k match {
        case MergeModeKey if v != "copy-on-write" && v != "merge-on-read" =>
          Some("copy-on-write or merge-on-read")
        case DvAutoOptimizeKey if v.toBooleanOption.isEmpty => Some("true or false")
        case DvMaxRatioKey if !v.toDoubleOption.exists(_ >= 0) => Some("a number >= 0")
        case DvMaxBytesKey if !v.toLongOption.exists(_ >= 0) => Some("an integer >= 0")
        case _ => None
      }
      expected.foreach(e => throw UserException(s"Invalid table property $k = '$v' (expected $e)"))
    }

  /** Session conf capping the mask scan path (tier 1 of
    * applyDvFilter) by total deleted rows; above it the broadcast
    * anti-join takes over. 2M rows ≈ 16 MB of sorted longs in the
    * task binary.
    */
  private[graft] val DvMaskMaxRowsKey = "spark.graft.dv.maskMaxRows"
  /** Raised 2M → 8M rows with the compressed [[RowSet]] mask (≤2 B/row
    * packed vs the old flat 8 B/row; DvFilterSpec measures build cost
    * ~O(100 ms) at this gate). The tier-1 byte gate (DvBroadcastBytes
    * over the parquets' summed size) still bounds the eager build
    * whichever gate a pathological table slips past.
    */
  private[graft] val DvMaskMaxRowsDefault = 8L << 20

  /** DV masks by descriptor identity (immutable content ⇒ equal key
    * means equal mask); bounded LRU so long sessions over many DV'd
    * snapshots cannot accumulate driver memory.
    */
  private[lake] val dvMaskCache =
    new java.util.LinkedHashMap[Seq[(String, String, Int)], DvMask](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Seq[(String, String, Int)], DvMask]): Boolean = size > 8
    }

  /** Deleted-row sets by (absolute DV parquet, fid), the parts
    * [[dvMaskCache]]'s masks are assembled from; LRU, bounded by the
    * rows it holds.
    */
  private[lake] object dvRowSets {
    private var held = 0L
    private val sets = new java.util.LinkedHashMap[(String, Int), (RowSet, Long)](16, 0.75f, true)

    def get(k: (String, Int)): Option[RowSet] = synchronized(Option(sets.get(k)).map(_._1))

    def put(k: (String, Int), set: RowSet, rows: Long): Unit = synchronized {
      held += rows - Option(sets.put(k, (set, rows))).fold(0L)(_._2)
      val eldest = sets.values.iterator
      while (held > 4 * DvMaskMaxRowsDefault && eldest.hasNext) {
        held -= eldest.next()._2; eldest.remove()
      }
    }
  }

  def forPath(spark: SparkSession, p: String): LakeTable =
    new LakeTable(spark, TransactionLog.pathOf(p))
}
