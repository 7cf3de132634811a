package graft.delta

import com.fasterxml.jackson.databind.JsonNode
import graft.core.{CommitError, GraftError}
import graft.util.{Fs, Jsons}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, MetadataBuilder, StructField, StructType}

import java.util.UUID
import java.util.concurrent.{ExecutionException, TimeUnit, TimeoutException}

/** Write mode for the Delta sink (reference `sinks/delta.py:10-29`). */
sealed trait DeltaWriteMode
object DeltaWriteMode {
  case object Append extends DeltaWriteMode
  case object Overwrite extends DeltaWriteMode
}

/** One parquet part a write produced: table-relative path, size, footer
  * stats, and (for partitioned writes) the hive-layout partition values. */
private[delta] case class WrittenPart(path: String, size: Long,
    stats: Option[String], partitionValues: Map[String, String],
    deletionVector: Option[DvDescriptor] = None)

/** Minimal Delta-table writer: parquet part files + an atomic
  * `_delta_log/N.json` commit of commitInfo/metaData/add/remove actions,
  * with optional `cdc` actions for Change-Data-Feed emission.
  *
  * Covers exactly the subset the reference's sink uses (append, overwrite,
  * schema merge — `sinks/delta.py:10-29`) plus CDF emission so CDF reads
  * are self-hosting in tests. Commit atomicity = create-with-overwrite=false
  * on the next version file; a concurrent writer loses with
  * FileAlreadyExists and fails fast — tolerable under the engine's
  * single-writer-per-checkpoint lock (SURVEY §7.4).
  *
  * Scale notes: the data write is a normal distributed
  * `df.write.parquet`; only the O(#files) action list passes through the
  * driver, same as delta-spark's commit path.
  */
class DeltaWriter(spark: SparkSession, conf: Configuration,
    checkpointInterval: Int = 10) {
  private val log = new DeltaLogReader(conf)
  private val ckptWriter = new CheckpointWriter(conf)

  /** delta-spark checkpoints every 10th commit; same cadence here so
    * fresh readers replay at most `checkpointInterval` JSON commits and
    * [[CheckpointWriter.expireLogs]] can bound log growth. 0 disables. */
  private def maybeCheckpoint(tablePath: String, version: Long): Unit =
    if (checkpointInterval > 0 && version > 0 && version % checkpointInterval == 0)
      ckptWriter.checkpoint(tablePath, Some(version))

  /** Read the table at its latest version, or time-travel with
    * `versionAsOf` / `timestampAsOf` (delta-spark's options of the same
    * names; `timestampAsOf` resolves to the newest commit at or before the
    * given epoch-ms — any version whose snapshot is still reconstructible
    * from surviving JSON commits / checkpoints; reading past the replay
    * base fails loudly, never partially). */
  def read(tablePath: String, versionAsOf: Option[Long] = None,
      timestampAsOf: Option[Long] = None): DataFrame = {
    val latest = log.latestVersion(tablePath)
      .orElse(log.listCheckpoints(tablePath).lastOption.map(_.version))
      .getOrElse(throw new GraftError(s"not a delta table: $tablePath"))
    val version = versionAsOf
      .orElse(timestampAsOf.map(ts => log.versionAtOrBeforeTimestamp(tablePath, ts)
        .getOrElse(throw new GraftError(
          s"no commit of $tablePath at or before timestamp $ts"))))
      .getOrElse(latest)
    if (version > latest)
      throw new GraftError(s"versionAsOf $version is beyond latest $latest of $tablePath")
    scanAdds(tablePath, DeltaStats.activeAdds(log, tablePath, version))
  }

  /** RESTORE TABLE ... TO VERSION: make the state at `version` the newest
    * state again with a METADATA-ONLY commit — add back the files active
    * then (they're still on disk unless vacuumed; verified before
    * committing), remove the files active now but not then, and revert the
    * schema. No data is copied or rewritten: restore is O(#files) log
    * work, delta-spark's RESTORE shape. */
  def restore(tablePath: String, version: Long): Long = {
    val latest = log.latestVersion(tablePath)
      .getOrElse(throw new GraftError(s"not a delta table: $tablePath"))
    if (version > latest)
      throw new GraftError(s"cannot restore $tablePath to $version: latest is $latest")
    if (version == latest) return latest
    val target = DeltaStats.activeAdds(log, tablePath, version)
    val current = DeltaStats.activeAdds(log, tablePath, latest)
    val targetPaths = target.map(_.path).toSet
    val currentPaths = current.map(_.path).toSet
    val toAdd = target.filterNot(a => currentPaths(a.path))
    val toRemove = current.filterNot(a => targetPaths(a.path))
    toAdd.foreach { a =>
      val p = new Path(log.resolvePath(tablePath, a.path))
      if (!Fs.exists(p, conf))
        throw new GraftError(
          s"cannot restore $tablePath to $version: ${a.path} was vacuumed")
    }
    val schema = log.metaAt(tablePath, version).flatMap(_.schemaString)
      .map(s => DataType.fromJson(s).asInstanceOf[StructType])
      .getOrElse(StructType(Nil))
    commit(tablePath, "RESTORE", schema,
      toRemove.map(_.path),
      toAdd.map(a => WrittenPart(a.path, a.size, a.stats, a.partitionValues,
        a.deletionVector)),
      Seq.empty,
      readVersion = Some(latest),
      partitionCols =
      // layout order comes from a path, not partitionValues' map order
      target.headOption.map(_.path.split('/').dropRight(1).filter(_.contains('='))
        .map(seg => seg.take(seg.indexOf('='))).toSeq).getOrElse(Seq.empty))
  }

  /** DELETE WHERE via deletion vectors — the O(matched rows) delete: no
    * data file is rewritten; matched row indices fold into one
    * RoaringBitmap per file ([[DvRowAgg]] — map-side partial aggregation,
    * so the single shuffle carries bitmap-sized buffers keyed by file, a
    * few KB each even for a billion-row delete), the driver unions them
    * with any existing vectors, and ONE commit re-adds the touched files
    * with their new DVs (one packed `.bin` for the whole commit). A file
    * whose every physical row is now deleted (stats numRecords == union
    * cardinality) is plain-removed instead. At 100 TB this is the
    * difference between a delete costing minutes of metadata work and
    * hours of rewrite churn the vacuum horizon then absorbs; the trade is
    * a bitmap probe per row at read time until OPTIMIZE rewrites.
    * Returns the number of rows deleted (0 = no commit was made). */
  def deleteWhere(tablePath: String, condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.col
    val readVersion = log.latestVersion(tablePath)
      .getOrElse(throw new GraftError(s"not a delta table: $tablePath"))
    val adds = DeltaStats.activeAdds(log, tablePath, readVersion)
    if (adds.isEmpty) return 0L
    val marked = scanAddsWithRowMeta(tablePath, adds).filter(condition)
      .select(col(RowMetaFile), col(RowMetaIndex))
    dvCommit(tablePath, adds, dvFold(tablePath, adds, marked), Seq.empty,
      Seq.empty, None, readVersion, "DELETE")._2
  }

  private[graft] val RowMetaFile = "__file_path"
  private[graft] val RowMetaIndex = "__row_index"

  /** DV-aware scan of `adds` that also exposes each row's provenance as
    * [[RowMetaFile]]/[[RowMetaIndex]] columns — the frame DV deletes and
    * DV merges mark rows in. */
  private[graft] def scanAddsWithRowMeta(tablePath: String,
      adds: Seq[DeltaAction.AddFile]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val declared = log.tableSchemaString(tablePath)
      .map(s => DataType.fromJson(s).asInstanceOf[StructType])
    val files = adds.map(a => log.resolvePath(tablePath, a.path))
    val partitioned = files.exists(_.split('/').dropRight(1).exists(_.contains('=')))
    val raw = declared.filter(ColumnMapping.isMapped) match {
      // the mapped projection keeps _metadata explicitly so provenance
      // survives to the row-meta columns below
      case Some(s) => ColumnMapping.readMapped(spark, files, s,
        basePath = if (partitioned) Some(tablePath) else None, keepMeta = true,
        byFieldId = ColumnMapping.isIdMode(log.tableConfigurationJson(tablePath)))
      case None =>
        if (partitioned)
          declared.foldLeft(spark.read.option("basePath", tablePath))(
            (r, s) => r.schema(s)).parquet(files: _*)
        else declared match {
          case Some(s) => spark.read.schema(s).parquet(files: _*)
          case None => spark.read.parquet(files: _*)
        }
    }
    val dvByPath: Map[String, DvDescriptor] = adds
      .flatMap(a => a.deletionVector.map(d =>
        DeletionVector.normUri(log.resolvePath(tablePath, a.path)) -> d)).toMap
    // rows already deleted by an existing DV must not match again
    dvFilter(tablePath, dvByPath, raw)
      .withColumn(RowMetaFile, col("_metadata.file_path"))
      .withColumn(RowMetaIndex, col("_metadata.row_index"))
      .drop("_metadata")
  }

  /** The DV fold: fold `marked` ([[RowMetaFile]], [[RowMetaIndex]]) into
    * one bitmap per file ([[DvRowAgg]] — map-side partial aggregation, the
    * exchange carries bitmaps, never row lists), then hand the folded
    * bitmaps to a bounded set of WRITER TASKS
    * ([[DeletionVector.writeDvPartition]]) that union with existing
    * vectors, drop files whose every physical row is now deleted, and
    * write the `.bin` frames executor-side. The driver collects only one
    * [[DvWriteResult]] per touched file. No bitmap byte ever materializes
    * on the driver ([[DeletionVector.driverBitmapBytes]] pins this): a
    * delete touching millions of files holds millions of descriptors
    * driver-side — the same O(#files) metadata any delta commit holds —
    * not billions of deleted-row bits. Writes only unreferenced `.bin`
    * files, so it needs no lock and can run beside a payload write; the
    * files become visible only through [[dvCommit]]. */
  private def dvFold(tablePath: String, candidates: Seq[DeltaAction.AddFile],
      marked: DataFrame): Seq[DvWriteResult] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.functions.{col, count, lit, udaf}
    val dvAgg = udaf(new DvRowAgg(), Encoders.scalaLong)
    // metadata the writer tasks need, keyed by normalized file path —
    // descriptors and row counts only, O(#files) small
    def norm(a: DeltaAction.AddFile): String =
      DeletionVector.normUri(log.resolvePath(tablePath, a.path))
    val oldDvs: Map[String, DvDescriptor] =
      candidates.flatMap(a => a.deletionVector.map(norm(a) -> _)).toMap
    val phys: Map[String, Long] = candidates.flatMap(a => a.stats.flatMap { s =>
      try Jsons.optLong(Jsons.parse(s), "numRecords")
      catch { case scala.util.control.NonFatal(_) => None }
    }.map(norm(a) -> _)).toMap
    // ~64 files' vectors per .bin keeps test-scale commits at one packed
    // file (the pre-r7 shape) while a wide delete fans out to all cores
    val numTasks = math.max(1, math.min((candidates.size + 63) / 64,
      spark.sparkContext.defaultParallelism))
    val serConf = new graft.util.SerializableConf(conf)
    val folded = marked.groupBy(RowMetaFile)
      .agg(dvAgg(col(RowMetaIndex)).as("dv"), count(lit(1)).as("n"))
      .select(col(RowMetaFile).as("path"), col("dv"), col("n"))
      .as(Encoders.product[DvFileFold])
    // single-writer commits (≤64 touched files, the common case) MERGE the
    // aggregation's output into one task with coalesce — no second
    // exchange; any file-to-task assignment is correct since each row is
    // one file's complete folded bitmap. Wide deletes repartition for a
    // deterministic fan-out (AQE may have coalesced the agg output below
    // the wanted task count, and coalesce can only shrink).
    val routed =
      if (numTasks == 1) folded.coalesce(1)
      else folded.repartition(numTasks)
    routed
      .mapPartitions(folds => DeletionVector.writeDvPartition(
        tablePath, serConf.value, oldDvs, phys)(folds))(
        Encoders.product[DvWriteResult])
      .collect().toSeq
  }

  /** The shared DV-delete commit: re-add every file in the fold's
    * `results` with its new vector (or plain-remove it when fully
    * deleted) together with `extraParts` (a DV merge's appended payload)
    * and `cdcParts` in ONE atomic commit. Returns (version, deletedRows);
    * no-op (-1, 0) when nothing matched and nothing is appended. */
  private def dvCommit(tablePath: String,
      candidates: Seq[DeltaAction.AddFile], results: Seq[DvWriteResult],
      extraParts: Seq[WrittenPart], cdcParts: Seq[(String, Long)],
      txn: Option[(String, Long)], readVersion: Long,
      operation: String,
      schemaOverride: Option[StructType] = None,
      mintedMaxColumnId: Option[Long] = None): (Long, Long) = {
    if (results.isEmpty && extraParts.isEmpty && cdcParts.isEmpty) return (-1L, 0L)
    val declared = log.tableSchemaString(tablePath)
      .map(s => DataType.fromJson(s).asInstanceOf[StructType])
    val byNorm = candidates.map(a =>
      DeletionVector.normUri(log.resolvePath(tablePath, a.path)) -> a).toMap
    def addOf(path: String): DeltaAction.AddFile =
      byNorm.getOrElse(DeletionVector.normUri(path),
        throw new GraftError(s"matched file $path not in snapshot"))
    val deleted = results.map(_.freshCount).sum
    val reAdds = results.filter(_.ref.isDefined).map { r =>
      val a = addOf(r.path)
      WrittenPart(a.path, a.size, a.stats, a.partitionValues,
        Some(DvDescriptor("u", r.ref.get, r.offset, r.sizeInBytes.get,
          r.cardinality)))
    }
    // path-derived partition columns are physical on a mapped table;
    // metaData partitionColumns stay logical
    val partColsLogical = {
      val physToLogical = declared.filter(ColumnMapping.isMapped)
        .map(s => ColumnMapping.physicalNames(s).map(_.swap))
        .getOrElse(Map.empty[String, String])
      partitionColumnsOf(tablePath).map(p => physToLogical.getOrElse(p, p))
    }
    val version = commit(tablePath, operation,
      schemaOverride.orElse(declared).getOrElse(StructType(Nil)),
      results.map(r => addOf(r.path).path), reAdds ++ extraParts, cdcParts,
      partColsLogical, txn, readVersion = Some(readVersion),
      mintedMaxColumnId = mintedMaxColumnId)
    (version, deleted)
  }

  /** DV-based MERGE primitive: in ONE atomic commit, bitmap-delete every
    * row of `candidates` listed in `marked` and append `payload` (the
    * post-state of the changed keys). The touched files' surviving rows
    * are never read, rewritten, or shuffled — the merge's data volume is
    * O(change batch), not O(touched files); delta-spark's low-shuffle
    * MERGE shape. A payload that WIDENS the schema is supported in the
    * same commit: the metaData action grows the new nullable columns, and
    * old rows null-fill them at READ (Delta semantics make this free —
    * scans apply the declared schema, absent columns read NULL — so
    * widening costs no rewrite either). The payload passes the same
    * write projection as every other write ([[conform]]: generated
    * columns computed, CHECK constraints and invariants guarded inline).
    *
    * Job structure: the fold ([[dvFold]]) and the payload + CDF writes
    * are independent until the commit, so the fold runs on a second
    * driver thread ([[DeltaWriter.concurrently]]) while this thread
    * writes the parts; the commit waits for both. A failure on either
    * side commits nothing and surfaces that side's own exception.
    * Returns deleted-row count. */
  private[graft] def dvMerge(tablePath: String, candidates: Seq[DeltaAction.AddFile],
      marked: DataFrame, payload: DataFrame, cdfChanges: Option[DataFrame],
      txn: Option[(String, Long)], readVersion: Long): Long = {
    val root = new Path(tablePath)
    val fs = Fs.fs(root, conf)
    val declared = log.tableSchemaString(tablePath)
      .map(s => DataType.fromJson(s).asInstanceOf[StructType])
      .getOrElse(payload.schema)
    val mapped = ColumnMapping.isMapped(declared)
    val newCols = payload.schema.fields
      .filterNot(f => declared.fieldNames.contains(f.name))
    // widening on a mapped table mints physical names + bumps maxColumnId
    // in the same commit, like writeImpl's mergeSchema append
    val minted: Option[(Array[StructField], Long)] =
      if (mapped && newCols.nonEmpty)
        Some(mintMappedColumns(tablePath, declared, newCols))
      else None
    val outSchema = StructType(declared.fields ++
      minted.map(_._1).getOrElse(newCols.map(_.copy(nullable = true))))
    // appended payload files carry physical names on a mapped table; the
    // hive layout (path-derived partCols) is already physical there
    val toWrite = conform(payload, outSchema,
      log.tableConfigurationJson(tablePath), mapped)
    val effectiveParts = partitionColumnsOf(tablePath)
    val (results, (parts, cdcParts)) = DeltaWriter.concurrently(marked.sparkSession)(
      dvFold(tablePath, candidates, marked)) {
      val parts =
        if (effectiveParts.isEmpty) writeParts(toWrite, root, fs, prefix = "part")
        else writePartitionedParts(toWrite, root, effectiveParts)
      val cdcParts = cdfChanges.map { ch =>
        val cdcDir = new Path(root, "_change_data")
        fs.mkdirs(cdcDir)
        val out =
          if (mapped) ColumnMapping.cdcToPhysical(ch, outSchema,
            keep = Seq(graft.Cdc.ChangeTypeCol))
          else ch
        writeParts(out, cdcDir, fs, prefix = "cdc").map(p =>
          (s"_change_data/${p.path}", p.size))
      }.getOrElse(Seq.empty)
      (parts, cdcParts)
    }
    dvCommit(tablePath, candidates, results, parts, cdcParts, txn,
      readVersion, "MERGE",
      schemaOverride = if (newCols.isEmpty) None else Some(outSchema),
      mintedMaxColumnId = minted.map(_._2))._2
  }

  /** Translate skipping-range keys to the PHYSICAL column names for
    * column-mapped tables — file stats key on physical names, so a
    * logical-name lookup would find no bounds and skip nothing. */
  private def toPhysicalKeys[T](tablePath: String,
      ranges: Map[String, T]): Map[String, T] =
    tableSchema(tablePath).filter(ColumnMapping.isMapped).map { s =>
      val m = ColumnMapping.physicalNames(s)
      ranges.map { case (k, v) => m.getOrElse(k, k) -> v }
    }.getOrElse(ranges)

  /** Data-skipping read: files whose delta stats can't intersect every
    * given inclusive numeric interval are not even scheduled
    * ([[DeltaStats.prune]]); the caller's own filter still applies on the
    * surviving rows — skipping is plan-level, never a row filter. */
  def readSkipping(tablePath: String,
      ranges: Map[String, (Option[Double], Option[Double])],
      versionAsOf: Option[Long] = None): DataFrame = {
    val latest = log.latestVersion(tablePath)
      .orElse(log.listCheckpoints(tablePath).lastOption.map(_.version))
      .getOrElse(throw new GraftError(s"not a delta table: $tablePath"))
    val version = versionAsOf.getOrElse(latest)
    val adds = DeltaStats.activeAdds(log, tablePath, version)
    val (kept, _) = DeltaStats.prune(adds, toPhysicalKeys(tablePath, ranges))
    scanAdds(tablePath, kept)
  }

  /** String-interval data-skipping read (lexicographic bounds — ISO
    * dates, id prefixes): files whose string stats can't intersect every
    * inclusive range are never scheduled. */
  def readSkippingStrings(tablePath: String,
      ranges: Map[String, (Option[String], Option[String])],
      versionAsOf: Option[Long] = None): DataFrame = {
    val latest = log.latestVersion(tablePath)
      .orElse(log.listCheckpoints(tablePath).lastOption.map(_.version))
      .getOrElse(throw new GraftError(s"not a delta table: $tablePath"))
    val version = versionAsOf.getOrElse(latest)
    val adds = DeltaStats.activeAdds(log, tablePath, version)
    val (kept, _) = DeltaStats.pruneStrings(adds, toPhysicalKeys(tablePath, ranges))
    scanAdds(tablePath, kept)
  }

  /** Partition-pruned read by exact partition VALUES (string equality —
    * the case numeric-interval `readSkipping` can't express): only files
    * in the matching `col=value` dirs are scheduled. */
  def readPartitions(tablePath: String, equal: Map[String, String],
      versionAsOf: Option[Long] = None): DataFrame = {
    val latest = log.latestVersion(tablePath)
      .orElse(log.listCheckpoints(tablePath).lastOption.map(_.version))
      .getOrElse(throw new GraftError(s"not a delta table: $tablePath"))
    val version = versionAsOf.getOrElse(latest)
    val adds = DeltaStats.activeAdds(log, tablePath, version)
    // partitionValues key on PHYSICAL names for mapped tables
    val (kept, _) = DeltaStats.prunePartitions(adds, toPhysicalKeys(tablePath, equal))
    scanAdds(tablePath, kept)
  }

  private def scanAdds(tablePath: String, adds: Seq[DeltaAction.AddFile]): DataFrame = {
    val files = adds.map(a => log.resolvePath(tablePath, a.path))
    val declared = log.tableSchemaString(tablePath)
      .map(s => DataType.fromJson(s).asInstanceOf[StructType])
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        declared.getOrElse(new StructType()))
    val dvByPath: Map[String, DvDescriptor] = adds
      .flatMap(a => a.deletionVector.map(d =>
        DeletionVector.normUri(log.resolvePath(tablePath, a.path)) -> d)).toMap
    declared.filter(ColumnMapping.isMapped).foreach { s =>
      val anyPartitioned =
        files.exists(_.split('/').dropRight(1).exists(_.contains('=')))
      // DV filtering needs row provenance, which the mapped projection
      // would drop — keep the _metadata struct through it, filter, then
      // drop the helper column
      val mappedDf = ColumnMapping.readMapped(spark, files, s,
        basePath = if (anyPartitioned) Some(tablePath) else None,
        keepMeta = dvByPath.nonEmpty,
        byFieldId = ColumnMapping.isIdMode(log.tableConfigurationJson(tablePath)))
      return if (dvByPath.isEmpty) mappedDf
        else dvFilter(tablePath, dvByPath, mappedDf).drop("_metadata")
    }
    // hive-layout tables: partition columns live in the directory names,
    // not the data files — read with basePath so Spark re-materializes
    // them, then align to the declared schema's column order/types
    // ('=' appears in a path segment only as a partition dir)
    val partitioned = files.exists(_.split('/').dropRight(1).exists(_.contains('=')))
    if (partitioned) {
      import org.apache.spark.sql.functions.{col, lit}
      // give the reader the declared schema: partition columns still
      // re-materialize from the hive dirs, and Spark skips the footer
      // schema-inference job (whose job count scales with file count)
      val reader = declared.foldLeft(
        spark.read.option("basePath", tablePath))((r, s) => r.schema(s))
      val raw = dvFilter(tablePath, dvByPath, reader.parquet(files: _*))
      declared match {
        case Some(s) => raw.select(s.fields.toSeq.map(f =>
          (if (raw.columns.contains(f.name)) col(f.name).cast(f.dataType)
           else lit(null).cast(f.dataType)).as(f.name)): _*)
        case None => raw
      }
    } else {
      val raw = declared match {
        // read with the declared schema so files written before a schema
        // merge null-fill the newer columns
        case Some(s) => spark.read.schema(s).parquet(files: _*)
        case None => spark.read.parquet(files: _*)
      }
      // _metadata is a hidden column: filtering on it leaves the visible
      // schema untouched
      dvFilter(tablePath, dvByPath, raw)
    }
  }

  /** Drop rows a deletion vector marks deleted — see [[DvScan]]: the
    * broadcast carries descriptors only, executors lazy-load the bitmaps,
    * and a scan whose declared vector bytes exceed the budget fails
    * loudly instead of OOMing. */
  private def dvFilter(tablePath: String, dvByPath: Map[String, DvDescriptor],
      df: DataFrame): DataFrame =
    DvScan.filterDeleted(spark, tablePath, dvByPath, df, conf)

  def tableExists(tablePath: String): Boolean = log.isDeltaTable(tablePath)

  /** The table's declared schema (None until a metaData action exists). */
  def tableSchema(tablePath: String): Option[StructType] =
    log.tableSchemaString(tablePath)
      .map(s => DataType.fromJson(s).asInstanceOf[StructType])

  /** Partition columns of an existing table, in layout order (derived
    * from an active add's path — the authoritative record of the hive
    * layout actually on disk; PHYSICAL names on mapped tables). A table
    * with NO active adds (fully deleted / emptied by an overwrite) falls
    * back to the last metaData action's `partitionColumns` mapped into
    * the physical domain — without that, the next append or ALTER would
    * silently DE-PARTITION the table (and dropColumn's partition-column
    * guard could never fire). Empty for unpartitioned tables. */
  def partitionColumnsOf(tablePath: String): Seq[String] =
    log.latestVersion(tablePath).map { v =>
      DeltaStats.activeAdds(log, tablePath, v).headOption
        .map(_.path.split('/').dropRight(1).filter(_.contains('='))
          .map(seg => seg.take(seg.indexOf('='))).toSeq)
        .getOrElse {
          val toPhys = tableSchema(tablePath).map(ColumnMapping.physicalNames)
            .getOrElse(Map.empty[String, String])
          log.partitionColumnsAt(tablePath, v).map(p => toPhys.getOrElse(p, p))
        }
    }.getOrElse(Seq.empty)

  /** Latest committed version (None = not a delta table). Capture this
    * BEFORE planning a merge/overwrite from the snapshot and pass it to
    * [[replaceFiles]]: commits racing the planning window are then
    * conflict-checked instead of silently committed over. */
  def latestVersion(tablePath: String): Option[Long] = log.latestVersion(tablePath)

  /** Active add actions (stats + partitionValues preserved) at the latest
    * version — the driver-side file inventory merge planning prunes over. */
  def activeAdds(tablePath: String): Seq[DeltaAction.AddFile] =
    log.latestVersion(tablePath)
      .map(v => DeltaStats.activeAdds(log, tablePath, v))
      .getOrElse(Seq.empty)

  /** Active add actions at a SPECIFIC version — pair with [[latestVersion]]
    * so merge planning and its commit-time conflict check share one
    * snapshot version. */
  def activeAddsAt(tablePath: String, version: Long): Seq[DeltaAction.AddFile] =
    DeltaStats.activeAdds(log, tablePath, version)

  /** Scan only the given add files of the table (declared schema applies —
    * missing columns null-fill, hive partition values re-materialize,
    * deletion vectors filter). */
  def readAdds(tablePath: String, adds: Seq[DeltaAction.AddFile]): DataFrame =
    scanAdds(tablePath, adds)

  /** Atomically replace a named subset of the table's files with `df`'s
    * newly written parts — delta MERGE's touched-files commit shape: the
    * single commit removes exactly `removePaths` and adds the new parts;
    * every OTHER active add action simply survives (a delta snapshot is a
    * fold of adds minus removes, so not removing a file IS carrying it
    * forward — no rewrite, no re-add). The table keeps its partitioning. */
  def replaceFiles(df: DataFrame, tablePath: String, removePaths: Seq[String],
      mergeSchema: Boolean = false,
      cdfChanges: Option[DataFrame] = None,
      txn: Option[(String, Long)] = None,
      readVersion: Option[Long] = None): Long =
    writeImpl(df, tablePath, DeltaWriteMode.Append, mergeSchema, cdfChanges,
      Seq.empty, explicitRemoves = Some(removePaths), operation = "MERGE",
      txn = txn, plannedReadVersion = readVersion)

  /** Write `df` to the table; returns the committed version. `partitionBy`
    * lays data out hive-style (`col=value` dirs directly under the table
    * root — the standard large-table layout) with `partitionValues` on
    * every add action; appends must keep the table's existing
    * partitioning. */
  def write(df: DataFrame, tablePath: String, mode: DeltaWriteMode,
      mergeSchema: Boolean = false,
      cdfChanges: Option[DataFrame] = None,
      partitionBy: Seq[String] = Seq.empty,
      txn: Option[(String, Long)] = None): Long =
    writeImpl(df, tablePath, mode, mergeSchema, cdfChanges, partitionBy,
      explicitRemoves = None,
      operation =
        if (mode == DeltaWriteMode.Overwrite) "WRITE_OVERWRITE" else "WRITE_APPEND",
      txn = txn)

  /** Newest SetTransaction watermark committed by `appId` (None = never).
    * A sink passing `txn = Some((appId, batchId))` to [[write]] and
    * skipping batches at-or-below this value gets EXACTLY-once output
    * from an at-least-once pipeline — a replayed batch is a no-op instead
    * of a duplicate (delta-spark's txnAppId/txnVersion idempotent
    * writes). */
  def lastTxnVersion(tablePath: String, appId: String): Option[Long] =
    if (!tableExists(tablePath)) None else log.lastTxnVersion(tablePath, appId)

  /** Every `delta.columnMapping.id` in the schema, NESTED fields
    * included (struct/array/map element traversal mirrors
    * [[ColumnMapping.physicalType]]): on a foreign table the highest id
    * can live inside a struct, and a top-level-only scan would re-mint
    * an existing id — a protocol violation delta-spark readers reject. */
  private def mappedFieldIds(dt: DataType): Seq[Long] = dt match {
    case st: StructType => st.fields.toSeq.flatMap(f =>
      (if (f.metadata.contains("delta.columnMapping.id"))
        Seq(f.metadata.getLong("delta.columnMapping.id")) else Nil) ++
      mappedFieldIds(f.dataType))
    case ArrayType(et, _) => mappedFieldIds(et)
    case MapType(k, v, _) => mappedFieldIds(k) ++ mappedFieldIds(v)
    case _ => Nil
  }

  /** Fresh physical `col-<uuid>` names + field ids for new logical
    * columns on a mapped table; returns (minted fields, new maxColumnId).
    * Ids continue from delta.columnMapping.maxColumnId, falling back to
    * the highest existing field id (nested fields included) when a
    * foreign table never recorded the property. */
  private def mintMappedColumns(tablePath: String, es: StructType,
      newCols: Array[StructField]): (Array[StructField], Long) = {
    val maxId = log.tableConfigurationJson(tablePath)
      .map(Jsons.parse)
      .flatMap(n => Jsons.optStr(n, "delta.columnMapping.maxColumnId"))
      .map(_.toLong)
      .orElse(mappedFieldIds(es).maxOption)
      .getOrElse(0L)
    val fields = newCols.zipWithIndex.map { case (f, i) =>
      f.copy(nullable = true, metadata = new MetadataBuilder()
        .withMetadata(f.metadata)
        .putLong("delta.columnMapping.id", maxId + i + 1)
        .putString(ColumnMapping.PhysicalNameKey,
          s"col-${UUID.randomUUID().toString}")
        .build())
    }
    (fields, maxId + newCols.length)
  }

  /** Rename a logical column on a column-mapped table WITHOUT rewriting
    * data (delta-spark's ALTER TABLE .. RENAME COLUMN under
    * columnMapping.mode=name — the mapping's raison d'être): the field
    * keeps its physical `col-<uuid>` name and field id, so existing
    * files, partition dirs, and stats keys — which all address the
    * physical name — read under the new logical name immediately, old
    * and new files alike. Metadata-only commit: intervening metaData
    * changes conflict ([[metaConflicts]]); a concurrent append planned
    * against the old name conflicts on ITS retry (the rename is a
    * non-additive schema change to it). */
  def renameColumn(tablePath: String, oldName: String, newName: String): Long =
    renameColumnPath(tablePath, Seq(oldName), newName)

  /** [[renameColumn]] for a NESTED field (delta-spark's
    * `ALTER TABLE .. RENAME COLUMN a.b TO a.c`): `path` names the field
    * through its enclosing structs — segments dive through arrays and
    * map values implicitly (renaming a field of a struct-in-array needs
    * no `element` segment). Metadata-only like the top-level form: the
    * nested field keeps its physical name + id. */
  def renameColumnPath(tablePath: String, path: Seq[String],
      newName: String): Long =
    alterMappedSchema(tablePath, "RENAME COLUMN") { es =>
      rewriteStructAt(es, path, tablePath) { (st, old) =>
        if (!st.fieldNames.contains(old))
          throw new GraftError(s"no column '${path.mkString(".")}' on $tablePath")
        if (st.fieldNames.contains(newName))
          throw new GraftError(
            s"column '$newName' already exists beside " +
            s"'${path.mkString(".")}' on $tablePath")
        StructType(st.fields.map(f =>
          if (f.name == old) f.copy(name = newName) else f))
      }
    }

  /** Drop a logical column on a column-mapped table without rewriting
    * data: the field leaves the metaData schema; files are untouched
    * (the physical column is dead bytes until a rewrite compacts it
    * away). A later mergeSchema re-add of the same logical name mints a
    * FRESH physical name + field id ([[mintMappedColumns]] — maxColumnId
    * is monotone across the drop), so dropped data can never resurrect
    * under the new column: the column-mapping protocol's core invariant.
    * Partition columns cannot drop (the hive layout is keyed on them). */
  def dropColumn(tablePath: String, name: String): Long =
    dropColumnPath(tablePath, Seq(name))

  /** [[dropColumn]] for a NESTED field; same path semantics as
    * [[renameColumnPath]]. Refuses to empty any struct (parquet cannot
    * represent an empty group) and to drop a partition column. */
  def dropColumnPath(tablePath: String, path: Seq[String]): Long =
    alterMappedSchema(tablePath, "DROP COLUMN") { es =>
      if (path.length == 1) {
        val physToLogical = ColumnMapping.physicalNames(es).map(_.swap)
        if (partitionColumnsOf(tablePath).map(p => physToLogical.getOrElse(p, p))
            .contains(path.head))
          throw new GraftError(
            s"cannot drop partition column '${path.head}' of $tablePath")
      }
      rewriteStructAt(es, path, tablePath) { (st, last) =>
        if (!st.fieldNames.contains(last))
          throw new GraftError(s"no column '${path.mkString(".")}' on $tablePath")
        val remaining = st.fields.filterNot(_.name == last)
        if (remaining.isEmpty)
          throw new GraftError(
            s"cannot drop '${path.mkString(".")}': it is the last field " +
            s"of its struct on $tablePath")
        StructType(remaining)
      }
    }

  /** Apply `leaf` to the struct containing the LAST segment of `path`,
    * rebuilding every enclosing level (diving through arrays and map
    * values). The alter operators' shared path walker. */
  private def rewriteStructAt(st: StructType, path: Seq[String],
      tablePath: String)(
      leaf: (StructType, String) => StructType): StructType = path match {
    case Seq() => throw new GraftError("empty column path")
    case Seq(last) => leaf(st, last)
    case head +: rest =>
      val idx = st.fieldNames.indexOf(head)
      if (idx < 0)
        throw new GraftError(s"no column '$head' on $tablePath")
      val f = st.fields(idx)
      def dive(dt: DataType): DataType = dt match {
        case inner: StructType => rewriteStructAt(inner, rest, tablePath)(leaf)
        case ArrayType(et, n) => ArrayType(dive(et), n)
        case MapType(k, v, n) => MapType(k, dive(v), n)
        case _ => throw new GraftError(
          s"'$head' is not a struct on $tablePath; cannot address " +
          s"'${path.mkString(".")}'")
      }
      StructType(st.fields.updated(idx, f.copy(dataType = dive(f.dataType))))
  }

  /** Upgrade a plain table to `columnMapping.mode=name` — delta-spark's
    * `ALTER TABLE .. SET TBLPROPERTIES('delta.columnMapping.mode'='name')`
    * shape: every EXISTING column's physical name becomes its current
    * name (existing files keep reading without any rewrite — their
    * columns already carry those names), field ids assign sequentially,
    * configuration gains `mode=name` + `maxColumnId`, and the same
    * commit raises the protocol to the mapping floor (reader 2 /
    * writer 5; a v3 table instead adds the `columnMapping` feature to
    * its lists, never downgrading a DV upgrade). Idempotent: an
    * already-mapped table returns its latest version untouched. After
    * the upgrade, [[renameColumn]]/[[dropColumn]] compose and
    * mergeSchema appends mint fresh `col-<uuid>` names. */
  def upgradeToColumnMapping(tablePath: String): Long = {
    val latest = log.latestVersion(tablePath)
      .getOrElse(throw new GraftError(s"not a delta table: $tablePath"))
    val es0 = tableSchema(tablePath)
      .getOrElse(throw new GraftError(s"no schema on $tablePath"))
    if (ColumnMapping.isMapped(es0)) return latest
    // the protocol requires EVERY struct field — nested included — to
    // carry a field id + physical name once mapping is on; a top-level-
    // only assignment would emit metadata foreign readers may reject.
    // The mapped schema, the maxColumnId property, and the protocol line
    // all derive from the ONE schema/version alterSchema captures — a
    // commit landing after that point is `intervening` for the
    // metaConflicts guard, so a concurrent mergeSchema append's column
    // can never be silently dropped by an upgrade planned against a
    // staler read.
    def mapped(es: StructType): StructType = {
      var idCounter = 0L
      def nextId(): Long = { idCounter += 1; idCounter }
      def mapType(dt: DataType): DataType = dt match {
        case st: StructType => StructType(st.fields.map { f =>
          f.copy(dataType = mapType(f.dataType),
            metadata = new MetadataBuilder().withMetadata(f.metadata)
              .putLong("delta.columnMapping.id", nextId())
              .putString(ColumnMapping.PhysicalNameKey, f.name).build())
        })
        case ArrayType(et, n) => ArrayType(mapType(et), n)
        case MapType(k, v, n) => MapType(mapType(k), mapType(v), n)
        case other => other
      }
      mapType(es).asInstanceOf[StructType]
    }
    alterSchema(tablePath, "UPGRADE COLUMN MAPPING",
      requireMapped = false,
      mutateConfig = { (cfg, newSchema) =>
        cfg.put("delta.columnMapping.mode", "name")
        cfg.put("delta.columnMapping.maxColumnId",
          mappedFieldIds(newSchema).maxOption.getOrElse(0L).toString)
      },
      extraLinesAt = rv =>
        mappingProtocolLines(log.resolveProtocol(tablePath, rv))) { es =>
      if (ColumnMapping.isMapped(es))
        throw new GraftError(
          s"concurrent columnMapping upgrade detected on $tablePath; " +
          "the table is already mapped at the planned read version")
      mapped(es)
    }
  }

  /** The protocol action (if any) a columnMapping upgrade must commit,
    * given the table's current protocol. NEVER downgrades: a legacy
    * protocol rises to the mapping floor componentwise
    * (`max(reader, 2)` / `max(writer, 5)` — writer-only capability
    * versions like 6 survive), and any table already speaking writer
    * features (minWriterVersion 7, with or without a v3 reader) goes
    * through the feature-list branch so its existing features are
    * PRESERVED with `columnMapping` added — a blanket (2,5) there would
    * erase constraints other writers rely on, a spec-forbidden
    * downgrade. */
  private def mappingProtocolLines(
      curP: Option[DeltaAction.Protocol]): Seq[String] = {
    def l(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString(", ")
    curP match {
      case Some(p) if p.minReaderVersion >= 3 =>
        val rf = (p.readerFeatures :+ "columnMapping").distinct
        val wf = (p.writerFeatures :+ "columnMapping").distinct
        Seq(s"""{"protocol": {"minReaderVersion": ${p.minReaderVersion}, """ +
          s""""minWriterVersion": ${math.max(p.minWriterVersion, 7)}, """ +
          s""""readerFeatures": [${l(rf)}], "writerFeatures": [${l(wf)}]}}""")
      case Some(p) if p.minWriterVersion >= 7 =>
        // writer-features table with a legacy reader: keep the feature
        // list (plus columnMapping), raise only the reader floor — the
        // spec puts readerFeatures on v3 readers only, so the mapping's
        // reader requirement is expressed as minReaderVersion 2
        val wf = (p.writerFeatures :+ "columnMapping").distinct
        Seq(s"""{"protocol": {"minReaderVersion": ${math.max(p.minReaderVersion, 2)}, """ +
          s""""minWriterVersion": ${p.minWriterVersion}, """ +
          s""""writerFeatures": [${l(wf)}]}}""")
      case Some(p) if p.minReaderVersion >= 2 && p.minWriterVersion >= 5 =>
        Seq.empty
      case Some(p) =>
        Seq(s"""{"protocol": {"minReaderVersion": ${math.max(p.minReaderVersion, 2)}, """ +
          s""""minWriterVersion": ${math.max(p.minWriterVersion, 5)}}}""")
      case None =>
        Seq("""{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}""")
    }
  }

  /** ADD CONSTRAINT (delta `ALTER TABLE ... ADD CONSTRAINT name CHECK
    * (sql)`): validates the EXISTING data satisfies `sql` (one
    * distributed pass — delta-spark does the same scan), then commits
    * `delta.constraints.<name>` in the table configuration with the
    * protocol raised to the checkConstraints floor (legacy writer 3,
    * preserved feature lists on v7 tables — never a downgrade). Every
    * subsequent write validates rows inline ([[WriteChecks]]); foreign
    * writers see the protocol requirement and must do the same or
    * refuse. The conflict check also flags intervening DATA commits, not
    * just metaData: rows appended between the validation scan and the
    * commit were never validated, so the ADD must re-plan. */
  def addCheckConstraint(tablePath: String, name: String, sql: String): Long = {
    val key = name.toLowerCase(java.util.Locale.ROOT)
    require(key.nonEmpty && key.matches("[a-z0-9_]+"),
      s"constraint name must be [a-zA-Z0-9_]+, got '$name'")
    val existing = WriteChecks.constraintsOf(log.tableConfigurationJson(tablePath))
    if (existing.exists(_._1 == key))
      throw new GraftError(
        s"constraint $key already exists on $tablePath " +
        s"(${existing.toMap.apply(key)}); drop it first")
    WriteChecks.requireHolds(read(tablePath), key, sql)
    alterSchema(tablePath, "ADD CONSTRAINT",
      requireMapped = false,
      mutateConfig = (cfg, _) => cfg.put(s"delta.constraints.$key", sql),
      extraLinesAt = rv =>
        constraintProtocolLines(log.resolveProtocol(tablePath, rv)),
      extraConflict = intervening => intervening.flatMap(_.actions).collectFirst {
        case a: DeltaAction.AddFile if a.dataChange =>
          s"an intervening commit added data the constraint scan never " +
          s"validated; re-plan the ADD CONSTRAINT"
      })(identity)
  }

  /** DROP CONSTRAINT: removes `delta.constraints.<name>` (metadata-only;
    * the protocol stays — other constraints may exist and protocol
    * downgrades are forbidden anyway). Refuses an unknown name loudly:
    * a silent no-op here would leave the caller believing a constraint
    * stopped applying when it never existed (delta-spark requires
    * IF EXISTS to opt into that). */
  def dropCheckConstraint(tablePath: String, name: String): Long = {
    val key = name.toLowerCase(java.util.Locale.ROOT)
    val existing = WriteChecks.constraintsOf(log.tableConfigurationJson(tablePath))
    if (!existing.exists(_._1 == key))
      throw new GraftError(
        s"no constraint named $key on $tablePath " +
        s"(existing: ${existing.map(_._1).mkString(", ")})")
    alterSchema(tablePath, "DROP CONSTRAINT",
      requireMapped = false,
      mutateConfig = (cfg, _) => { cfg.remove(s"delta.constraints.$key"); () })(
      identity)
  }

  /** The protocol action an ADD CONSTRAINT must commit — the
    * checkConstraints floor is legacy writer 3; same never-downgrade
    * discipline as [[mappingProtocolLines]]. */
  private def constraintProtocolLines(
      curP: Option[DeltaAction.Protocol]): Seq[String] = {
    def l(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString(", ")
    curP match {
      case Some(p) if p.minWriterVersion >= 7 =>
        val wf = (p.writerFeatures :+ "checkConstraints").distinct
        val rf =
          if (p.minReaderVersion >= 3) s""""readerFeatures": [${l(p.readerFeatures)}], """
          else ""
        Seq(s"""{"protocol": {"minReaderVersion": ${p.minReaderVersion}, """ +
          s""""minWriterVersion": ${p.minWriterVersion}, """ + rf +
          s""""writerFeatures": [${l(wf)}]}}""")
      case Some(p) if p.minWriterVersion >= 3 => Seq.empty
      case Some(p) =>
        Seq(s"""{"protocol": {"minReaderVersion": ${p.minReaderVersion}, """ +
          s""""minWriterVersion": 3}}""")
      case None =>
        Seq("""{"protocol": {"minReaderVersion": 1, "minWriterVersion": 3}}""")
    }
  }

  /** Shared metadata-only ALTER commit for [[renameColumn]]/[[dropColumn]]
    * /[[upgradeToColumnMapping]]: one metaData action with the
    * transformed schema, the table's configuration carried forward
    * (optionally mutated), and partitionColumns re-derived in the NEW
    * logical name domain (so renaming a partition column carries its
    * new name). `requireMapped` (the rename/drop default) refuses
    * unmapped tables — without physical names those changes would
    * orphan every existing file's data. */
  private def alterMappedSchema(tablePath: String, operation: String)(
      transform: StructType => StructType): Long =
    alterSchema(tablePath, operation, requireMapped = true)(transform)

  private def alterSchema(tablePath: String, operation: String,
      requireMapped: Boolean,
      mutateConfig: (com.fasterxml.jackson.databind.node.ObjectNode, StructType) => Unit = (_, _) => (),
      extraLinesAt: Long => Seq[String] = _ => Seq.empty,
      extraConflict: Seq[DeltaCommit] => Option[String] = _ => None)(
      transform: StructType => StructType): Long = {
    // ONE consistent read point: the schema the transform rebuilds, the
    // table id and configuration carried forward, and any protocol line
    // (extraLinesAt) all resolve AT readVersion. A commit landing after
    // this capture is `intervening` for commitWithRetry's metaConflicts
    // guard — the stale-plan race (schema read before a concurrent
    // mergeSchema append, guard never firing because the append was
    // at-or-below a later-captured readVersion) is structurally closed.
    val readVersion = log.latestVersion(tablePath)
      .getOrElse(throw new GraftError(s"not a delta table: $tablePath"))
    val metaBaseline = log.metaAt(tablePath, readVersion)
      .getOrElse(throw new GraftError(s"no metaData on $tablePath"))
    val es = metaBaseline.schemaString
      .map(s => DataType.fromJson(s).asInstanceOf[StructType])
      .getOrElse(throw new GraftError(s"no schema on $tablePath"))
    if (requireMapped && !ColumnMapping.isMapped(es))
      throw new GraftError(
        s"$operation requires column mapping on $tablePath: without " +
        "physical names, the change would orphan existing files' data")
    val newSchema = transform(es)
    val tid = metaBaseline.id
    val extraLines = extraLinesAt(readVersion)
    val physToLogicalNew = ColumnMapping.physicalNames(newSchema).map(_.swap)
    val partsLogical = partitionColumnsOf(tablePath)
      .map(p => physToLogicalNew.getOrElse(p, p))
    def content(version: Long): String = {
      val now = System.currentTimeMillis()
      val lines = Seq.newBuilder[String]
      lines ++= extraLines
      val ci = Jsons.obj()
      ci.put("timestamp", now)
      ci.put("operation", operation)
      lines += s"""{"commitInfo": ${Jsons.render(ci)}}"""
      val md = Jsons.obj()
      md.put("id", tid)
      val fmt = Jsons.obj(); fmt.put("provider", "parquet")
      fmt.set[JsonNode]("options", Jsons.obj())
      md.set[JsonNode]("format", fmt)
      md.put("schemaString", newSchema.json)
      val pcols = Jsons.arr()
      partsLogical.foreach(pcols.add)
      md.set[JsonNode]("partitionColumns", pcols)
      // pre-r7 commits omitted configuration entirely — only a truly
      // absent field falls back to the resolver's chained view
      val cfgNode = metaBaseline.configurationJson
        .orElse(log.tableConfigurationJson(tablePath)).map(Jsons.parse)
        .collect { case o: com.fasterxml.jackson.databind.node.ObjectNode => o }
        .getOrElse(Jsons.obj())
      mutateConfig(cfgNode, newSchema)
      md.set[JsonNode]("configuration", cfgNode)
      md.put("createdTime", now)
      lines += s"""{"metaData": ${Jsons.render(md)}}"""
      lines.result().mkString("\n")
    }
    commitWithRetry(tablePath, content,
      intervening => intervening.flatMap(_.actions).collectFirst {
        case m: DeltaAction.MetaData if DeltaWriter.metaConflicts(metaBaseline, m) =>
          s"an intervening commit changed the table's metaData; " +
          s"re-plan the $operation"
      }.orElse(extraConflict(intervening)),
      Some(readVersion))
  }

  private def writeImpl(df: DataFrame, tablePath: String, mode: DeltaWriteMode,
      mergeSchema: Boolean,
      cdfChanges: Option[DataFrame],
      partitionBy: Seq[String],
      explicitRemoves: Option[Seq[String]],
      operation: String,
      txn: Option[(String, Long)] = None,
      plannedReadVersion: Option[Long] = None): Long = {
    val root = new Path(tablePath)
    val fs = Fs.fs(root, conf)
    fs.mkdirs(root)
    // the snapshot version every read below (schema, partitioning, and —
    // for Overwrite — the remove set) is consistent with; the commit
    // conflict-checks anything that lands after it (callers that planned
    // even earlier, e.g. a MERGE's touched-file pruning, pass their own)
    val readVersion = plannedReadVersion.orElse(log.latestVersion(tablePath))
    val existingSchema = log.tableSchemaString(tablePath)
      .map(s => DataType.fromJson(s).asInstanceOf[StructType])
    // column-mapped tables: data files carry the PHYSICAL col-<uuid>
    // names at every nesting level (delta-spark's mode=name write shape);
    // the metaData schema keeps the logical names + mapping metadata.
    // Task-computed stats key on physical names too, so skipping
    // translates keys ([[toPhysicalKeys]]). Partition dirs and add-action
    // partitionValues also use physical names — the caller speaks logical
    // names, translated both ways below. A mergeSchema APPEND may add
    // top-level columns: each new logical column mints a fresh physical
    // col-<uuid> name + the next field id, and the same commit's
    // configuration bumps delta.columnMapping.maxColumnId (delta-spark's
    // evolution shape); other modes with new columns refuse loudly.
    val mappedSchema = existingSchema.filter(ColumnMapping.isMapped)
    // partition columns derive from add-file PATHS, which carry physical
    // names on a mapped table — translate so caller-facing checks and the
    // metaData partitionColumns speak logical names
    val physToLogical: Map[String, String] = mappedSchema
      .map(es => ColumnMapping.physicalNames(es).map(_.swap)).getOrElse(Map.empty)
    val existingParts = partitionColumnsOf(tablePath)
      .map(p => physToLogical.getOrElse(p, p))
    // accept either name domain from callers (maintenance paths hand back
    // path-derived physical names); all checks below run on logical
    val partitionByLogical = partitionBy.map(p => physToLogical.getOrElse(p, p))
    // both append AND overwrite keep the table's existing layout when the
    // caller doesn't name one (delta-spark parity: partition columns are
    // table metadata an overwrite cannot silently change — an explicit
    // partitionBy is the only way to re-layout)
    val effectiveParts =
      if (partitionByLogical.nonEmpty) partitionByLogical
      else existingParts
    if (existingParts.nonEmpty && mode == DeltaWriteMode.Append &&
        effectiveParts != existingParts)
      throw new GraftError(
        s"table $tablePath is partitioned by ${existingParts.mkString(",")}; " +
        s"append requested ${effectiveParts.mkString(",")}")

    mappedSchema.foreach { es =>
      val newCols = df.schema.fields.filterNot(f => es.fieldNames.contains(f.name))
      if (newCols.nonEmpty &&
          !(mode == DeltaWriteMode.Append && mergeSchema))
        throw new GraftError(
          s"cannot add columns ${newCols.map(_.name).mkString(",")} to " +
          s"column-mapped table $tablePath in this mode; use a mergeSchema " +
          "append (mints physical names)")
    }
    // physical-name minting for a mergeSchema append on a mapped table;
    // the commit carries the bumped maxColumnId so a foreign writer's
    // next mint can't collide
    val minted: Option[(Array[StructField], Long)] = mappedSchema.flatMap { es =>
      val newCols = df.schema.fields.filterNot(f => es.fieldNames.contains(f.name))
      if (newCols.isEmpty || mode != DeltaWriteMode.Append || !mergeSchema) None
      else Some(mintMappedColumns(tablePath, es, newCols))
    }
    val outSchema = existingSchema match {
      case Some(es) if mappedSchema.isDefined =>
        // overwrite keeps the mapped schema; mergeSchema append extends
        // it with the freshly-minted fields (old files null-fill at read)
        StructType(es.fields ++ minted.map(_._1).getOrElse(Array.empty[StructField]))
      case Some(es) if mode == DeltaWriteMode.Append =>
        val newCols = df.schema.fields.filterNot(f => es.fieldNames.contains(f.name))
        if (newCols.nonEmpty && !mergeSchema)
          throw new GraftError(
            s"schema mismatch appending to $tablePath (new columns " +
            s"${newCols.map(_.name).mkString(",")}); use mergeSchema")
        StructType(es.fields ++ newCols.map(_.copy(nullable = true)))
      case _ => df.schema
    }
    val tableConfig = log.tableConfigurationJson(tablePath)
    if (mode == DeltaWriteMode.Overwrite && DeltaWriter.isAppendOnly(tableConfig))
      throw new GraftError(
        s"delta table $tablePath is append-only (delta.appendOnly=true); " +
        "overwrite would replace existing data")
    val toWrite = conform(df, outSchema, tableConfig, mappedSchema.isDefined)

    // the hive layout uses PHYSICAL partition column names on a mapped
    // table (toWrite's columns are already physical); metaData
    // partitionColumns below stay logical
    val physParts = mappedSchema.map { _ =>
      val m = ColumnMapping.physicalNames(outSchema)
      effectiveParts.map(p => m.getOrElse(p, p))
    }.getOrElse(effectiveParts)
    val parts =
      if (effectiveParts.isEmpty) writeParts(toWrite, root, fs, prefix = "part")
      else writePartitionedParts(toWrite, root, physParts)
    val cdcParts = cdfChanges.map { ch =>
      val cdcDir = new Path(root, "_change_data")
      fs.mkdirs(cdcDir)
      // mapped tables' change files carry the PHYSICAL column names plus
      // the literal _change_type, exactly like delta-spark's — the
      // mapped-aware CDF reader resolves them back to logical
      val out = mappedSchema
        .map(_ => ColumnMapping.cdcToPhysical(ch, outSchema,
          keep = Seq(graft.Cdc.ChangeTypeCol)))
        .getOrElse(ch)
      writeParts(out, cdcDir, fs, prefix = "cdc").map(p =>
        (s"_change_data/${p.path}", p.size))
    }.getOrElse(Seq.empty)

    val removed: Seq[String] = explicitRemoves.getOrElse(mode match {
      case DeltaWriteMode.Overwrite =>
        readVersion
          .map(v => log.snapshotState(tablePath, v).map(_._1))
          .getOrElse(Seq.empty)
      case _ => Seq.empty
    })
    commit(tablePath, operation, outSchema, removed, parts, cdcParts,
      effectiveParts, txn, readVersion, mintedMaxColumnId = minted.map(_._2))
  }

  /** The write projection every data write shares: conform `df` to
    * `outSchema`'s column order and types, where a missing column
    * null-fills UNLESS it is a generated column, which must be COMPUTED
    * (the generatedColumns writer obligation — a null-filled generated
    * column diverges from what every other engine derives from the same
    * row). CHECK constraints / column invariants / provided generated
    * columns validate INSIDE the projection (no second pass; see
    * [[WriteChecks]]) — a violating row fails the job before any commit.
    * On a column-mapped table the result carries the PHYSICAL names of
    * `outSchema`, so freshly minted columns write under their
    * `col-<uuid>` names. */
  private def conform(df: DataFrame, outSchema: StructType,
      tableConfig: Option[String], mapped: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val generatedExprs = WriteChecks.generatedOf(outSchema).toMap
    val aligned = df.select(outSchema.fields.map(f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else generatedExprs.get(f.name)
        .map(g => expr(g).cast(f.dataType).as(f.name))
        .getOrElse(lit(null).cast(f.dataType).as(f.name))).toSeq: _*)
    val checked = WriteChecks.enforce(aligned, outSchema, tableConfig,
      df.columns.toSet)
    if (mapped) ColumnMapping.toPhysical(checked, outSchema) else checked
  }

  /** Write df's parquet parts RENAME-FREE into a fresh uniquely-named data
    * directory under `targetDir`: [[DirectCommitProtocol]] has each task
    * write its part under its final name (no `_temporary` staging, no
    * post-write rename — a rename is a full copy on object stores), and the
    * files only become visible when the caller's `_delta_log` commit
    * references them. Returns (relativePath, size) with paths relative to
    * `targetDir`.
    *
    * The commit-protocol conf is swapped on the shared session for the
    * duration of the write (DeltaWriter runs under the engine's
    * single-writer lock; an unrelated concurrent parquet write on the same
    * session would still produce correct output, just without `_SUCCESS`
    * markers). */
  private def writeParts(df: DataFrame, targetDir: Path,
      fs: org.apache.hadoop.fs.FileSystem, prefix: String): Seq[WrittenPart] = {
    val dataDir = new Path(targetDir, s"$prefix-${UUID.randomUUID().toString.take(8)}")
    fs.mkdirs(dataDir)
    // size + stats come from the tasks' commit messages — the driver never
    // opens a footer (see DirectCommitProtocol.commitTask)
    writeWithProtocol(df.write.mode("append").parquet(dataDir.toString),
        dataDir.toString, df.sparkSession)
      .sortBy(_.path)
      .map(f => WrittenPart(s"${dataDir.getName}/${new Path(f.path).getName}",
        f.size, f.stats, Map.empty))
  }

  /** Partitioned write: hive-layout `col=value` dirs directly under the
    * table root (partition discovery rejects intermediate non-partition
    * dirs, so no per-write data dir). Which files THIS write created comes
    * from the tasks via [[DirectCommitProtocol]]'s commit messages — a
    * listing could not attribute files in shared partition dirs. */
  private def writePartitionedParts(df: DataFrame, root: Path,
      partitionBy: Seq[String]): Seq[WrittenPart] = {
    val rootStr = root.toUri.getPath.stripSuffix("/")
    writeWithProtocol(
        df.write.partitionBy(partitionBy: _*).mode("append").parquet(root.toString),
        root.toString, df.sparkSession).sortBy(_.path).map { f =>
      // task paths come back qualified (file:/...); compare scheme-free
      val rel = new Path(f.path).toUri.getPath.stripPrefix(rootStr).stripPrefix("/")
      val pv = rel.split('/').dropRight(1).filter(_.contains('=')).map { seg =>
        val i = seg.indexOf('=')
        seg.take(i) -> java.net.URLDecoder.decode(seg.drop(i + 1), "UTF-8")
      }.toMap
      WrittenPart(rel, f.size, f.stats, pv)
    }
  }

  /** Run one data write under [[DirectCommitProtocol]] and return the
    * files its tasks reported. The commit-protocol conf swaps on the
    * session the WRITTEN DataFrame executes under (`df.sparkSession`),
    * NOT the writer's constructor session — Structured Streaming's
    * foreachBatch hands over frames bound to a CLONED session with an
    * isolated conf, and swapping the wrong session's conf would run the
    * write under the default protocol: zero files reported, an empty
    * commit, silent data loss. The conf is session-GLOBAL and the
    * registry key for partitioned writes is the table root, so
    * concurrent DeltaWriter writes in one JVM serialize here
    * (commit-time version races are cross-process and stay fully
    * concurrent — [[commitWithRetry]] handles those). */
  private def writeWithProtocol(write: => Unit, popKey: String,
      sess: SparkSession): Seq[TaskWrittenFile] =
    DeltaWriter.sessionWriteLock.synchronized {
      DirectCommitProtocol.pop(popKey) // clear any stale entry
      val key = "spark.sql.sources.commitProtocolClass"
      val prev = sess.conf.getOption(key)
      sess.conf.set(key, classOf[DirectCommitProtocol].getName)
      try write
      finally prev match {
        case Some(v) => sess.conf.set(key, v)
        case None => sess.conf.unset(key)
      }
      DirectCommitProtocol.pop(popKey)
    }

  private def commit(tablePath: String, operation: String, schema: StructType,
      removed: Seq[String], adds: Seq[WrittenPart], cdcs: Seq[(String, Long)],
      partitionCols: Seq[String], txn: Option[(String, Long)] = None,
      readVersion: Option[Long] = None,
      mintedMaxColumnId: Option[Long] = None): Long = {
    val tid = log.tableId(tablePath).getOrElse(UUID.randomUUID().toString)
    val firstVersion = log.latestVersion(tablePath).map(_ + 1).getOrElse(0L)
    // delta.appendOnly: every remove reaching THIS funnel is a
    // dataChange=true remove (delete/overwrite/merge/restore) — exactly
    // what the feature forbids. OPTIMIZE/PURGE rewrites commit through
    // their own dataChange=false body and stay legal, as the spec allows.
    if (removed.nonEmpty && DeltaWriter.isAppendOnly(
        log.tableConfigurationJson(tablePath)))
      throw new GraftError(
        s"delta table $tablePath is append-only (delta.appendOnly=true); " +
        s"$operation would remove ${removed.size} data file(s) — the " +
        "appendOnly writer feature forbids removing data")

    def content(version: Long): String = {
      val now = System.currentTimeMillis()
      // On a RETRY of a schema-merging commit, fold in whatever schema the
      // concurrent winner committed, so our metaData action never regresses
      // columns another writer just merged. Overwrite keeps its own schema
      // (it replaces the table, and only metadata-only interveners are
      // retriable for it anyway).
      val schemaNow =
        if (version == firstVersion || operation == "WRITE_OVERWRITE") schema
        else log.tableSchemaString(tablePath)
          .map(s => DataType.fromJson(s).asInstanceOf[StructType])
          .map(cur => StructType(cur.fields ++ schema.fields
            .filterNot(f => cur.fieldNames.contains(f.name))
            .map(_.copy(nullable = true))))
          .getOrElse(schema)
      val lines = Seq.newBuilder[String]
      // real delta readers (delta-spark, delta-rs, duckdb) REQUIRE a protocol
      // action in the log; 1/2 = the base feature set. A commit that carries
      // DV adds must UPGRADE the protocol in the same commit (reader 3 /
      // writer 7 + the deletionVectors feature): under 1/2 a compliant
      // foreign reader would legally ignore the vectors and resurrect the
      // deleted rows. Emitted on every DV commit — protocol actions
      // override, so repetition is harmless and saves an O(versions) scan
      // for "did we upgrade already".
      if (adds.exists(_.deletionVector.isDefined))
        lines += """{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7, "readerFeatures": ["deletionVectors"], "writerFeatures": ["deletionVectors"]}}"""
      else if (version == 0L) {
        // a table CREATED with generated columns must declare the
        // generatedColumns writer obligation (legacy writer 4) — under
        // 2 a compliant foreign writer would legally null-fill or skip
        // the generation expression and silently diverge
        val floor = if (WriteChecks.generatedOf(schemaNow).nonEmpty) 4 else 2
        lines += s"""{"protocol": {"minReaderVersion": 1, "minWriterVersion": $floor}}"""
      }
      val ci = Jsons.obj()
      ci.put("timestamp", now)
      ci.put("operation", operation)
      lines += s"""{"commitInfo": ${Jsons.render(ci)}}"""
      val md = Jsons.obj()
      md.put("id", tid)
      // format/partitionColumns/configuration are required by real delta
      // readers' metaData schema; our parser only needs id + schemaString
      val fmt = Jsons.obj(); fmt.put("provider", "parquet")
      fmt.set[JsonNode]("options", Jsons.obj())
      md.set[JsonNode]("format", fmt)
      md.put("schemaString", schemaNow.json)
      val pcols = Jsons.arr()
      partitionCols.foreach(pcols.add)
      md.set[JsonNode]("partitionColumns", pcols)
      // carry the table's properties forward — emitting {} would CLOBBER a
      // foreign table's configuration (delta.enableChangeDataFeed,
      // delta.columnMapping.mode, delta.appendOnly, ...) and corrupt its
      // semantics for real delta readers
      val cfgNode = log.tableConfigurationJson(tablePath).map(Jsons.parse)
        .collect { case o: com.fasterxml.jackson.databind.node.ObjectNode => o }
        .getOrElse(Jsons.obj())
      mintedMaxColumnId.foreach { mid =>
        // defense in depth, not concurrency handling: a concurrent mint
        // changes `configuration`, which metaConflicts flags and aborts
        // BEFORE any retry rebuilds this node — so the max() below never
        // arbitrates live races; it only guarantees that, whatever config
        // this attempt read, maxColumnId never regresses below it
        val cur = Jsons.optStr(cfgNode, "delta.columnMapping.maxColumnId")
          .map(_.toLong).getOrElse(0L)
        cfgNode.put("delta.columnMapping.maxColumnId",
          math.max(cur, mid).toString)
      }
      md.set[JsonNode]("configuration", cfgNode)
      md.put("createdTime", now)
      lines += s"""{"metaData": ${Jsons.render(md)}}"""
      txn.foreach { case (appId, v) =>
        val t = Jsons.obj(); t.put("appId", appId); t.put("version", v)
        t.put("lastUpdated", now)
        lines += s"""{"txn": ${Jsons.render(t)}}"""
      }
      removed.foreach { p =>
        val r = Jsons.obj(); r.put("path", p); r.put("dataChange", true)
        r.put("deletionTimestamp", now)
        lines += s"""{"remove": ${Jsons.render(r)}}"""
      }
      adds.foreach { part =>
        val a = Jsons.obj(); a.put("path", part.path); a.put("size", part.size)
        a.put("dataChange", true); a.put("modificationTime", now)
        if (part.partitionValues.nonEmpty) {
          val pv = Jsons.obj()
          part.partitionValues.foreach { case (k, v) => pv.put(k, v) }
          a.set[JsonNode]("partitionValues", pv)
        }
        part.stats.foreach(s => a.put("stats", s)) // protocol: stats is a JSON string
        part.deletionVector.foreach(d =>
          a.set[JsonNode]("deletionVector", DeltaWriter.dvNode(d)))
        lines += s"""{"add": ${Jsons.render(a)}}"""
      }
      cdcs.foreach { case (p, sz) =>
        val c = Jsons.obj(); c.put("path", p); c.put("size", sz)
        c.put("dataChange", false)
        lines += s"""{"cdc": ${Jsons.render(c)}}"""
      }
      lines.result().mkString("\n")
    }

    // the metaData state our re-emission was planned from — evaluated
    // only when intervening commits actually need conflict-checking
    lazy val metaBaseline = readVersion.flatMap(v => log.metaAt(tablePath, v))
    commitWithRetry(tablePath, content,
      DeltaWriter.conflictReason(operation, removed, txn, _, metaBaseline),
      readVersion)
  }

  /** Optimistic concurrency: attempt the commit at latest+1; when another
    * writer wins the version (create-no-overwrite fails and the version
    * file exists), re-read the log, validate the intervening commits with
    * `conflictCheck`, and re-attempt at the NEW latest+1 — delta's
    * optimistic-transaction shape. A non-conflict IO failure, a real
    * semantic conflict, or `MaxCommitAttempts` exhaustion still fails.
    *
    * `readVersion` is the version the caller's remove set / txn guard was
    * COMPUTED from: commits that landed between that snapshot read and now
    * never trigger a version race (we'd happily commit at their latest+1),
    * so they get the SAME conflictCheck up front — without it a concurrent
    * commit landing in the planning window is silently committed over
    * (an overwrite leaving an intervening append's files alive, a MERGE
    * whose touched-file set a compaction just invalidated). */
  private def commitWithRetry(tablePath: String, content: Long => String,
      conflictCheck: Seq[DeltaCommit] => Option[String],
      readVersion: Option[Long] = None): Long = {
    // EVERY commit funnels through here — the one place the write-side
    // protocol gate can't be bypassed (writes, merges, ALTERs, OPTIMIZE,
    // restores). Reads have the same guard at parse time (checkProtocol).
    log.checkWriteProtocol(tablePath)
    val latestNow = log.latestVersion(tablePath)
    for (rv <- readVersion; latest <- latestNow; if latest > rv) {
      val intervening = ((rv + 1) to latest).map(log.readCommit(tablePath, _))
      conflictCheck(intervening).foreach { reason =>
        throw new CommitError(
          s"delta commit conflict at $tablePath (commits landed after read " +
          s"version $rv): $reason")
      }
    }
    var version = latestNow.map(_ + 1).getOrElse(0L)
    var attempts = 0
    while (attempts < DeltaWriter.MaxCommitAttempts) {
      try {
        writeCommitAtomic(tablePath, version, content(version))
        maybeCheckpoint(tablePath, version)
        return version
      } catch {
        case e: CommitError =>
          attempts += 1
          // only retry a genuine lost race (the version file exists)
          if (attempts >= DeltaWriter.MaxCommitAttempts ||
              !log.commitExists(tablePath, version)) throw e
          val newLatest = log.latestVersion(tablePath).getOrElse(version)
          val intervening = (version to newLatest).map(log.readCommit(tablePath, _))
          conflictCheck(intervening).foreach { reason =>
            throw new CommitError(
              s"delta commit conflict at $tablePath version $version: $reason", e)
          }
          version = newLatest + 1
      }
    }
    throw new CommitError(s"exhausted ${DeltaWriter.MaxCommitAttempts} commit attempts at $tablePath")
  }

  /** create(overwrite=false) so a concurrent committer of the same version
    * fails fast instead of clobbering. */
  private def writeCommitAtomic(tablePath: String, version: Long, content: String): Unit = {
    val p = log.commitPath(tablePath, version)
    val fs = Fs.fs(p, conf)
    fs.mkdirs(p.getParent)
    val out = try fs.create(p, false) catch {
      case e: java.io.IOException =>
        throw new CommitError(s"delta commit conflict at version $version: ${e.getMessage}", e)
    }
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
  }

  // ---- maintenance (reference maintenance.py:257-324 analogues) ----------

  /** Checkpoint the latest snapshot now (also happens automatically every
    * `checkpointInterval` commits). */
  def checkpoint(tablePath: String): Long = ckptWriter.checkpoint(tablePath)

  /** Delete JSON commits made redundant by the newest checkpoint; see
    * [[CheckpointWriter.expireLogs]]. */
  def expireLogs(tablePath: String, keepVersions: Int = 0): Int =
    ckptWriter.expireLogs(tablePath, keepVersions)

  /** Compact: PER PARTITION, rewrite active files smaller than
    * `smallFileBytes` into consolidated parts, preserving the hive layout
    * (a partition's compacted file lands in its own `col=value` dir, so
    * partition pruning and `partitionColumnsOf` are unaffected — the same
    * per-partition loop delta-spark's OPTIMIZE runs). All partitions'
    * rewrites land in ONE commit with dataChange=false semantics (readers
    * tailing with ignore_changes skip it; our own planner sees
    * dataChange=false and ignores it too). Unpartitioned tables are the
    * single-group degenerate case. */
  def compact(tablePath: String, smallFileBytes: Long = 32L * 1024 * 1024): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, concat_ws, lit, monotonically_increasing_id, pmod, typedlit}
    val latest = log.latestVersion(tablePath)
      .getOrElse(throw new GraftError(s"not a delta table: $tablePath"))
    val adds = DeltaStats.activeAdds(log, tablePath, latest)
    val root = new Path(tablePath)
    val fs = Fs.fs(root, conf)
    // DV-bearing files are excluded: compaction reads parts verbatim, and
    // folding one in without applying its bitmap would resurrect deleted
    // rows into the compacted output. Groups of <2 small files gain
    // nothing from a rewrite.
    val groups = adds.groupBy(_.partitionValues)
      .map { case (pv, g) => pv -> g.filter(a =>
        a.size < smallFileBytes && a.deletionVector.isEmpty) }
      .filter(_._2.size >= 2)
    if (groups.isEmpty) return latest
    val small = groups.values.flatten.toSeq
    val partCols = partitionColumnsOf(tablePath)
    val parts =
      if (partCols.isEmpty) {
        // read through the declared schema (a raw multi-file read infers
        // ONE file's footer schema, silently dropping columns a schema
        // merge added to the others); mapped tables rename back to
        // physical so the rewrite lands in the file name domain
        val df0 = readAdds(tablePath, small)
        val df = tableSchema(tablePath).filter(ColumnMapping.isMapped)
          .map(s => ColumnMapping.toPhysical(df0, s)).getOrElse(df0)
          .coalesce(
            math.max(1, (small.map(_.size).sum / (128L * 1024 * 1024)).toInt))
        writeParts(df, root, fs, prefix = "compacted")
      } else {
        // ONE job for every partition group: scan all small files with
        // partition columns re-materialized, route rows back to their hive
        // dirs via a single partitionBy write. Consolidation comes from a
        // hash repartition on (partition cols, salt) where each group's
        // salt fans out to ceil(groupBytes / 128 MB) writer tasks — one
        // ~128 MB output file per salt, independent of how many thousand
        // hive partitions the table has (the old shape was one serial
        // Spark job PER group: 10k partitions = 10k driver-looped jobs).
        // group keys must match the DataFrame-side lookup COLLISION-FREE:
        // a non-printable separator (a space inside a partition value
        // would shift fields) and an explicit null sentinel (concat_ws
        // silently DROPS null slots; hive's null dir name maps to the
        // same sentinel) — a missed lookup would null the salt and
        // collapse the fan-out
        val NullPv = "\u0000"
        val Sep = "\u0001"
        def pvKey(pv: Map[String, String]): String =
          partCols.map(c => pv.get(c)
            .filter(_ != "__HIVE_DEFAULT_PARTITION__")
            .getOrElse(NullPv)).mkString(Sep)
        val targets: Map[String, Int] = groups.map { case (pv, g) =>
          pvKey(pv) ->
            math.max(1, (g.map(_.size).sum / (128L * 1024 * 1024)).toInt)
        }.toMap
        // readAdds surfaces LOGICAL names on a mapped table; the rewrite
        // must land back under PHYSICAL names (and partCols, derived from
        // paths, already are physical) — rename before routing
        val df0 = readAdds(tablePath, small)
        val df = tableSchema(tablePath).filter(ColumnMapping.isMapped)
          .map(s => ColumnMapping.toPhysical(df0, s)).getOrElse(df0)
        // contiguous per-task ids cycle through each group's salt budget,
        // spreading rows evenly without hashing arbitrary data columns
        val keyExpr = concat_ws(Sep, partCols.map(c =>
          coalesce(col(s"`$c`").cast("string"), lit(NullPv))): _*)
        val salted = df.withColumn("__salt",
          pmod(monotonically_increasing_id(),
            // a lookup can only miss if path-decoding and column values
            // disagree in some unforeseen way — degrade to salt 0 (one
            // output file for that group), never a null-salt collapse
            coalesce(typedlit[Map[String, Int]](targets).apply(keyExpr),
              lit(1))))
        val routed = salted
          .repartition(math.max(targets.values.sum, 1),
            (partCols :+ "__salt").map(col): _*)
          .drop("__salt")
        writePartitionedParts(routed, root, partCols)
      }
    commitWithRetry(tablePath, _ =>
        DeltaWriter.optimizeBody("OPTIMIZE", small, parts),
      DeltaWriter.conflictReason("OPTIMIZE", small.map(_.path), None, _),
      readVersion = Some(latest))
  }

  /** Rewrite every DV-bearing file with its deletion vector APPLIED and
    * drop the vectors (delta's `REORG TABLE ... APPLY PURGE`): deletes
    * are cheap to take (a bitmap commit) but cost a probe per read — once
    * a table accumulates vectors, one purge rewrite re-amortizes reads,
    * and [[vacuum]] can then reclaim both the shadowed rows and the
    * `.bin` files. dataChange=false: tailing readers see no new data.
    * Returns the number of files purged (0 = no commit). */
  def purgeDeletionVectors(tablePath: String): Int = {
    val readVersion = log.latestVersion(tablePath)
      .getOrElse(throw new GraftError(s"not a delta table: $tablePath"))
    val dvAdds = DeltaStats.activeAdds(log, tablePath, readVersion)
      .filter(_.deletionVector.isDefined)
    if (dvAdds.isEmpty) return 0
    val root = new Path(tablePath)
    val fs = Fs.fs(root, conf)
    val partCols = partitionColumnsOf(tablePath)
    // ONE DV-aware scan of every vector-bearing file (survivors only,
    // partition columns re-materialized) feeding ONE write job. No shuffle:
    // scan tasks are file-aligned, so each task's rows already belong to
    // one hive dir and partitionBy routes them straight back — output file
    // count tracks input file count, and the job count is independent of
    // how many thousand partitions the vectors touch (the old shape was a
    // serial driver loop launching one Spark job per partition group).
    // readAdds surfaces LOGICAL names on a mapped table; the purged
    // rewrite must land back under PHYSICAL names (partCols, derived
    // from paths, already are physical)
    val df0 = readAdds(tablePath, dvAdds)
    val df = tableSchema(tablePath).filter(ColumnMapping.isMapped)
      .map(s => ColumnMapping.toPhysical(df0, s)).getOrElse(df0)
    val parts =
      if (partCols.isEmpty) writeParts(df, root, fs, prefix = "purged")
      else writePartitionedParts(df, root, partCols)
    commitWithRetry(tablePath, _ =>
        DeltaWriter.optimizeBody("PURGE", dvAdds, parts),
      DeltaWriter.conflictReason("OPTIMIZE", dvAdds.map(_.path), None, _),
      readVersion = Some(readVersion))
    dvAdds.size
  }

  /** Vacuum: delete data files (and deletion-vector `.bin` files) not
    * referenced by the current snapshot and older than `retentionMs`.
    * Returns number of deleted files.
    *
    * Concurrency: planning (walk the tree, collect unreferenced files) and
    * deletion are separate phases, and a commit landing between them —
    * most dangerously a RESTORE, which re-references an old file — would
    * otherwise have its files deleted out from under it. Before deleting,
    * the latest version is re-read; if ANY commit landed since planning,
    * the candidate set is re-filtered against the NEW snapshot and the
    * check repeats (bounded by [[DeltaWriter.MaxCommitAttempts]], then
    * fails loudly rather than delete against a moving table). The
    * remaining window between the final check and each unlink is covered
    * the same way delta-spark covers it: RESTORE verifies its re-added
    * files still exist before committing, and the retention horizon keeps
    * vacuum away from anything a realistic restore would touch.
    * `afterPlan` is a test seam that runs between planning and the
    * re-check. */
  def vacuum(tablePath: String, retentionMs: Long = 7L * 24 * 3600 * 1000,
      afterPlan: () => Unit = () => ()): Int = {
    val planned = log.latestVersion(tablePath)
      .getOrElse(throw new GraftError(s"not a delta table: $tablePath"))
    val root = new Path(tablePath)
    val fs = Fs.fs(root, conf)
    val rootPrefix = root.toUri.getPath.stripSuffix("/") + "/"
    // (parquet paths, dv .bin paths) referenced by the snapshot at `v`
    def referenced(v: Long): (Set[String], Set[String]) = (
      log.snapshotState(tablePath, v).map(_._1).toSet,
      DeltaStats.activeAdds(log, tablePath, v)
        .flatMap(_.deletionVector)
        .flatMap(d => DeletionVector.resolvePath(tablePath, d))
        .map(_.toUri.getPath.stripPrefix(rootPrefix)).toSet)
    val (active0, activeDvs0) = referenced(planned)
    val cutoff = System.currentTimeMillis() - retentionMs
    val candidates = Seq.newBuilder[(Path, String)]
    def walk(dir: Path, rel: String): Unit =
      Fs.list(dir, conf).foreach { st =>
        val name = st.getPath.getName
        val relPath = if (rel.isEmpty) name else s"$rel/$name"
        if (st.isDirectory) {
          if (name != "_delta_log" && !name.startsWith(".")) walk(st.getPath, relPath)
        } else if (st.getModificationTime < cutoff &&
            ((name.endsWith(".parquet") && !active0.contains(relPath)) ||
             (name.startsWith("deletion_vector_") && name.endsWith(".bin") &&
               !activeDvs0.contains(relPath))))
          candidates += ((st.getPath, relPath))
      }
    walk(root, "")
    afterPlan()
    // conflict check: drop any candidate a commit re-referenced since
    // planning (RESTORE is the op that legitimately does this)
    var toDelete = candidates.result()
    var checked = planned
    var attempts = 0
    var latestNow = log.latestVersion(tablePath).getOrElse(checked)
    while (latestNow != checked) {
      attempts += 1
      if (attempts > DeltaWriter.MaxCommitAttempts)
        throw new CommitError(
          s"vacuum of $tablePath: table kept advancing during the " +
          s"conflict re-check ($attempts attempts); re-run vacuum")
      val (active, activeDvs) = referenced(latestNow)
      toDelete = toDelete.filterNot { case (_, rel) =>
        active.contains(rel) || activeDvs.contains(rel) }
      checked = latestNow
      latestNow = log.latestVersion(tablePath).getOrElse(checked)
    }
    toDelete.foreach { case (p, _) => fs.delete(p, false) }
    toDelete.size
  }

  // (conflict rules live on the companion so tests can exercise them
  // without staging a real filesystem race)

  /** OPTIMIZE ZORDER BY: rewrite the table along the Morton curve
    * ([[graft.operators.ZOrder]]) — interleaved bits of every given
    * column, range-partitioned into `numFiles` z-ranges — so min/max file
    * skipping prunes on ANY of the z-ordered columns, not just the first. */
  def optimizeZOrder(tablePath: String, cols: Seq[String], numFiles: Int = 8): Long = {
    val df = graft.operators.ZOrder.cluster(read(tablePath), cols, numFiles)
    // a partitioned table keeps its layout through the rewrite
    write(df, tablePath, DeltaWriteMode.Overwrite,
      partitionBy = partitionColumnsOf(tablePath))
  }
}

object DeltaWriter {
  private[delta] val MaxCommitAttempts = 10

  /** `delta.appendOnly=true` in the table configuration — the appendOnly
    * writer feature's switch (the legacy writer-2 table property and the
    * v7 feature share it). */
  private[delta] def isAppendOnly(configJson: Option[String]): Boolean =
    configJson.map(Jsons.parse)
      .flatMap(c => Jsons.optStr(c, "delta.appendOnly"))
      .exists(_.equalsIgnoreCase("true"))

  /** Commit body for a dataChange=false rewrite (OPTIMIZE / PURGE):
    * removes every old file, adds every new part — readers tailing with
    * ignore_changes skip it, and our own planner ignores it too. */
  private[delta] def optimizeBody(operation: String,
      removed: Seq[DeltaAction.AddFile], parts: Seq[WrittenPart]): String = {
    val now = System.currentTimeMillis()
    val lines = Seq.newBuilder[String]
    lines += s"""{"commitInfo": {"timestamp": $now, "operation": "$operation"}}"""
    removed.foreach { a =>
      val r = Jsons.obj(); r.put("path", a.path); r.put("dataChange", false)
      r.put("deletionTimestamp", now)
      lines += s"""{"remove": ${Jsons.render(r)}}"""
    }
    parts.foreach { part =>
      val a = Jsons.obj(); a.put("path", part.path); a.put("size", part.size)
      a.put("dataChange", false); a.put("modificationTime", now)
      if (part.partitionValues.nonEmpty) {
        val pv = Jsons.obj()
        part.partitionValues.foreach { case (k, v) => pv.put(k, v) }
        a.set[JsonNode]("partitionValues", pv)
      }
      part.stats.foreach(s => a.put("stats", s))
      lines += s"""{"add": ${Jsons.render(a)}}"""
    }
    lines.result().mkString("\n")
  }

  private[delta] def dvNode(d: DvDescriptor): JsonNode = {
    val n = Jsons.obj()
    n.put("storageType", d.storageType)
    n.put("pathOrInlineDv", d.pathOrInlineDv)
    d.offset.foreach(v => n.put("offset", v))
    n.put("sizeInBytes", d.sizeInBytes)
    n.put("cardinality", d.cardinality)
    n
  }

  /** Serializes [[DeltaWriter.writeWithProtocol]] across writer instances
    * sharing this JVM's session (the commit-protocol conf and the
    * partitioned-write registry key are not per-writer). */
  private[delta] val sessionWriteLock = new Object

  /** The driver threads [[concurrently]] runs its side work on. More
    * concurrent callers than threads queue, which only delays them: side
    * work never waits on a caller. */
  private lazy val sidePool = Bridge.daemonThreadPool("graft-delta-side", 4)

  /** Run `side` on a second driver thread while `main` runs on this one;
    * returns both results. `side` runs with this thread's Spark context
    * captured ([[Bridge.withThreadLocalCaptured]]: job tags, job group,
    * active session), so its jobs are attributed and cancelled with the
    * caller's. When `main` fails, `side`'s jobs are cancelled and waited
    * for, then `main`'s exception is rethrown; when `side` fails, its own
    * exception (not an ExecutionException) is rethrown once `main` has
    * finished. Either way no job of either is left running. */
  private[delta] def concurrently[A, B](session: SparkSession)(side: => A)(
      main: => B): (A, B) = {
    val sc = session.sparkContext
    val tag = s"graft-side-${UUID.randomUUID()}"
    val pending = Bridge.withThreadLocalCaptured(session, sidePool) {
      sc.addJobTag(tag)
      side
    }
    val b =
      try main
      catch { case t: Throwable =>
        // a job `side` launches after one cancel is caught by the next
        while (!pending.isDone) {
          sc.cancelJobsWithTag(tag)
          try pending.get(100, TimeUnit.MILLISECONDS)
          catch { case _: TimeoutException | _: ExecutionException => }
        }
        throw t
      }
    val a = try pending.get() catch { case e: ExecutionException => throw e.getCause }
    (a, b)
  }

  /** Can OUR commit (given its operation and remove set) be re-applied
    * on top of `intervening` commits that won earlier versions? None = yes,
    * Some(reason) = real conflict, fail. The delta conflict matrix,
    * restricted to the operations this writer emits:
    *  - blind appends compose with anything (no reads, no removes);
    *  - OPTIMIZE rewrites specific files with dataChange=false: it
    *    composes with appends and with compactions of OTHER files, and
    *    conflicts only when a concurrent commit removed one of the very
    *    files it rewrites;
    *  - overwrite and merge computed their remove set from a snapshot, so
    *    ANY concurrent change to the table's file set (including a
    *    dataChange=false compaction, which swaps files they would not
    *    remove) invalidates them; only metadata-only interveners are safe.
    *
    * Independent of the operation matrix, a pending SetTransaction
    * conflicts with any intervening commit carrying a txn for the SAME
    * appId at-or-above our batch version: that commit is another instance
    * of the same idempotent writer (a zombie driver racing its
    * replacement) landing the same-or-newer batch — committing over it
    * would append the batch twice, and even blind appends must fail here
    * (delta-spark's ConcurrentTransactionException). */
  private[graft] def conflictReason(operation: String, removedPaths: Seq[String],
      txn: Option[(String, Long)],
      intervening: Seq[DeltaCommit],
      metaBaseline: Option[TableMeta] = None): Option[String] = {
    val txnClash = txn.flatMap { case (appId, v) =>
      intervening.flatMap(_.txns).find(t => t.appId == appId && t.version >= v)
        .map(t => s"concurrent transaction for appId $appId: an intervening " +
          s"commit already recorded batch ${t.version} (ours: $v)")
    }
    if (txnClash.isDefined) return txnClash
    // every commit of ours re-emits metaData built from its planning
    // snapshot — an intervening commit that CHANGED the table's
    // configuration or non-additively changed its schema would be
    // clobbered with our stale copy (delta-spark fails concurrent
    // metadata updates too). Same-content re-emissions (every concurrent
    // append does one) and purely ADDITIVE schema growth compose: the
    // retry path folds new columns into our metaData instead.
    val metaClash = metaBaseline.flatMap { base =>
      intervening.flatMap(_.actions).collectFirst {
        case m: DeltaAction.MetaData if metaConflicts(base, m) =>
          s"an intervening commit changed the table's metaData " +
          "(configuration or non-additive schema change); re-plan the write"
      }
    }
    if (metaClash.isDefined) return metaClash
    operation match {
      case "WRITE_APPEND" => None
      case "OPTIMIZE" =>
        val ours = removedPaths.toSet
        val gone = intervening.flatMap(_.removes.map(_.path)).filter(ours)
        if (gone.nonEmpty)
          Some("concurrent commits removed files this OPTIMIZE rewrites: " +
            gone.take(3).mkString(", "))
        else None
      case _ =>
        if (intervening.exists(c => c.adds.nonEmpty || c.removes.nonEmpty))
          Some(s"$operation computed its file set from a snapshot that " +
            "concurrent commits have changed")
        else None
    }
  }

  /** True when `m` is a REAL metadata change relative to the planning
    * snapshot: configuration differs (order-insensitive JSON compare,
    * absent == {}), or the schema changed in a way column-folding can't
    * absorb (anything but adding new fields). */
  private def metaConflicts(base: TableMeta, m: DeltaAction.MetaData): Boolean = {
    def cfg(j: Option[String]): JsonNode =
      Jsons.parse(j.getOrElse("{}"))
    if (cfg(base.configurationJson) != cfg(m.configurationJson)) return true
    (base.schemaString, m.schemaString) match {
      case (bs, ms) if bs == ms => false
      case (Some(bs), Some(ms)) =>
        val baseFields = DataType.fromJson(bs).asInstanceOf[StructType].fields
        val newFields = DataType.fromJson(ms).asInstanceOf[StructType].fields
          .map(f => f.name -> f.dataType).toMap
        // additive = every base field survives with its type
        !baseFields.forall(f => newFields.get(f.name).contains(f.dataType))
      case _ => true
    }
  }
}
