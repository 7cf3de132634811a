package graft

import graft.delta.{DeltaAction, DeltaStats, DeltaWriteMode, DeltaWriter}
import graft.util.Jsons
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import org.apache.spark.storage.StorageLevel

import scala.util.control.NonFatal

/** Outcome of a CDC merge into a Delta table
  * (the reference returns `{rows_in, rows_out, action, change_types}` —
  * `sinks/delta.py:158`). */
case class MergeResult(
    rowsIn: Long,
    rowsOut: Long,
    action: String,
    changeTypes: Map[String, Long])

/** How a Merge materializes its changes.
  *  - `Auto`: deletion-vector merge whenever eligible (every candidate
  *    file has numRecords stats), otherwise the touched-file rewrite.
  *    Schema-widening batches stay DV-eligible: the commit widens the
  *    metaData schema and old rows null-fill the new columns at read.
  *  - `Rewrite`: always rewrite touched files (the delta-spark classic
  *    MERGE shape).
  *  - `DeletionVectors`: require the DV shape; error if ineligible. */
sealed trait MergeStrategy
object MergeStrategy {
  case object Auto extends MergeStrategy
  case object Rewrite extends MergeStrategy
  case object DeletionVectors extends MergeStrategy
}

/** CDC merge into a Delta table. Semantics follow the reference
  * (`sinks/delta.py:32-158`): keyed upsert/delete with latest-change-wins;
  * `append_only` dedups/strips and appends without rewriting (fast path
  * `:88-116`). Optionally emits the applied changes as CDF `cdc` actions so
  * downstream CDF readers can consume the merge itself.
  *
  * The MERGE execution shape is delta-spark's touched-files MERGE, not the
  * reference's read-modify-overwrite: the change batch's key bounds (min/max
  * per numeric merge key) prune the table's per-file stats
  * ([[graft.delta.DeltaStats.prune]]) down to the files that can possibly
  * contain a matched key; ONLY those files are read, merged, and rewritten,
  * and the commit removes exactly them — every untouched add action carries
  * forward unchanged. A batch touching 0.1% of the key space rewrites 0.1%
  * of the table instead of 100% — at 100 TB that is the difference between
  * a minutes-long and an hours-long merge, and it stops churning storage
  * the vacuum horizon would have to absorb. Files without usable stats and
  * non-numeric-keyed tables degrade conservatively to the full rewrite.
  *
  * Job structure (matters at scale): the change stream is persisted so its
  * upstream plan — often a window or join — executes once. ONE summary
  * action over it (`groupBy(changeCol)` with a count and, when a merge
  * prunes an existing table, every numeric key's min/max) yields both the
  * per-type counters and the pruning bounds; the driver folds the bounds
  * across the few result rows. `rows_out` rides the write job via
  * `observe()` plus the untouched files' `numRecords` stats (no second
  * scan of anything). A deletion-vector merge then runs the payload
  * write (and the CDF write, with `emitCdf`) on the calling thread and
  * the bitmap fold beside it on a second one
  * ([[graft.delta.DeltaWriter.dvMerge]]); the fold's touched-key
  * broadcast is a plain projection of the cached changes — no window, no
  * shuffle. A rewrite merge runs only the write (plus the CDF write).
  * Rewrite safety needs no pre-materialization: old files are only
  * dereferenced in the log commit, never deleted before the new parts
  * land.
  */
object DeltaCdc {
  /** `txn`: an optional SetTransaction (appId, batchVersion) stamped onto
    * the SAME commit as the merge — the atomic watermark that lets an
    * at-least-once caller skip replayed batches with
    * [[graft.delta.DeltaWriter.lastTxnVersion]] (no window where data
    * landed without its watermark).
    *
    * Ordering contract of a `Merge`: the latest change per key wins by
    * `_commit_version` (then `_commit_timestamp`, [[Cdc.dedupeLatest]]).
    * `changes` must hold at most one change per key per commit version;
    * two changes to one key with equal ordering values resolve
    * arbitrarily. */
  def applyCdcDelta(
      spark: SparkSession,
      changes: DataFrame,
      tablePath: String,
      keys: Seq[String],
      mode: CdcMode = CdcMode.Merge,
      changeCol: String = Cdc.ChangeTypeCol,
      changeTypeMap: Map[String, String] = Map.empty,
      dropDeletes: Boolean = false,
      emitCdf: Boolean = false,
      txn: Option[(String, Long)] = None,
      strategy: MergeStrategy = MergeStrategy.Auto): MergeResult = {
    val writer = new DeltaWriter(spark, spark.sparkContext.hadoopConfiguration)
    val normalized = Cdc.normalizeChangeTypes(changes, changeCol, changeTypeMap)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val merging = mode == CdcMode.Merge && writer.tableExists(tablePath)
      // ONE pass for the per-type counters and, when the merge prunes an
      // existing table, the key bounds; it also populates the cache the
      // merge below reads, so the (possibly expensive) change-stream plan
      // runs exactly once
      val numericKeys = if (!merging) Seq.empty else keys.filter(k =>
        normalized.schema.fields.exists(f =>
          f.name == k && f.dataType.isInstanceOf[NumericType]))
      val aggs = count(lit(1)) +: numericKeys.flatMap(k =>
        Seq(min(col(k)).cast("double"), max(col(k)).cast("double")))
      val summary = normalized.groupBy(changeCol).agg(aggs.head, aggs.tail: _*)
        .collect()
      val changeTypes = summary.map(r => r.getString(0) -> r.getLong(1)).toMap
      val rowsIn = changeTypes.values.sum
      // the batch's bounds are the min of the per-type mins and the max of
      // the maxes (the cast to double preserves order; NaN sorts last
      // under TotalOrdering, as in Spark's min/max)
      def perType(i: Int): Seq[Double] =
        summary.toSeq.flatMap(r => Option(r.get(i)).map(_.asInstanceOf[Double]))
      val ranges = numericKeys.zipWithIndex.map { case (k, i) =>
        k -> (perType(2 + 2 * i).minOption(Ordering.Double.TotalOrdering),
          perType(3 + 2 * i).maxOption(Ordering.Double.TotalOrdering))
      }.toMap

      val cdf = if (emitCdf) Some(normalized) else None
      val outObs = Observation()

      mode match {
        case CdcMode.AppendOnly =>
          val payload = Cdc.applyCdc(normalized, existing = None, keys, CdcMode.AppendOnly,
            changeCol, Map.empty, dropDeletes)
            .observe(outObs, count(lit(1)).as("rows_out"))
          writer.write(payload, tablePath, DeltaWriteMode.Append,
            mergeSchema = true, cdfChanges = cdf, txn = txn)
          val rowsOut = outObs.get("rows_out").asInstanceOf[Long]
          MergeResult(rowsIn, rowsOut, "append", changeTypes)
        case CdcMode.Merge if !merging =>
          val merged = Cdc.applyCdc(normalized, None, keys, CdcMode.Merge,
            changeCol, Map.empty, dropDeletes)
            .observe(outObs, count(lit(1)).as("rows_out"))
          writer.write(merged, tablePath, DeltaWriteMode.Overwrite,
            mergeSchema = true, cdfChanges = cdf, txn = txn)
          MergeResult(rowsIn, outObs.get("rows_out").asInstanceOf[Long],
            "merge", changeTypes)

        case CdcMode.Merge =>
          // one captured version covers both the planning read and the
          // commit's conflict check: anything landing after it is detected
          // at commit time, not silently overwritten
          val readVersion = writer.latestVersion(tablePath)
          val adds = readVersion.map(writer.activeAddsAt(tablePath, _))
            .getOrElse(Seq.empty)
          // stats key on PHYSICAL names for column-mapped tables — prune
          // with translated key names or the bounds match nothing and the
          // merge degrades to a full rewrite
          val statKeys = writer.tableSchema(tablePath)
            .filter(graft.delta.ColumnMapping.isMapped)
            .map(graft.delta.ColumnMapping.physicalNames)
            .getOrElse(Map.empty[String, String])
          val (touched, untouched) =
            partitionByKeyBounds(ranges, adds, statKeys)
          val carried = untouched.map(numRecordsOf(_).getOrElse(0L)).sum

          // DV eligibility: every candidate file's logical row count is
          // derivable (rows_out accounting). Schema widening does NOT
          // disqualify — the DV commit grows the metaData schema (minting
          // physical names on mapped tables) and old rows null-fill the
          // new columns at read (no rewrite needed). Column-mapped tables
          // are eligible too: the mark scan keeps _metadata through the
          // mapped projection and the payload writes physically.
          val dvEligible = touched.nonEmpty &&
            touched.forall(numRecordsOf(_).isDefined)
          val useDv = strategy match {
            case MergeStrategy.Rewrite => false
            case MergeStrategy.Auto => dvEligible
            case MergeStrategy.DeletionVectors =>
              if (!dvEligible && touched.nonEmpty)
                throw new graft.core.GraftError(
                  s"deletion-vector merge into $tablePath is ineligible " +
                  "(a candidate file lacks numRecords stats); use " +
                  "MergeStrategy.Auto or Rewrite")
              touched.nonEmpty
          }

          if (useDv) {
            // mark the old versions of every touched key deleted (per-file
            // bitmaps; the change-key set broadcasts) and append only the
            // changed keys' post-state: data volume is O(change batch),
            // surviving rows of touched files are never read or rewritten.
            // The touched keys are the prepared changes' keys: the latest-
            // per-key dedup keeps exactly one row per such key, and a
            // left_semi join ignores duplicates on its build side, so the
            // broadcast needs neither the dedup window nor a distinct
            val touchedKeys =
              Cdc.prepareChanges(normalized, changeCol, CdcMode.Merge, dropDeletes)
                .select(keys.map(col): _*)
            val marked = writer.scanAddsWithRowMeta(tablePath, touched)
              .join(broadcast(touchedKeys), keys, "left_semi")
              .select(col(writer.RowMetaFile), col(writer.RowMetaIndex))
            val payload = Cdc.applyCdc(normalized, None, keys, CdcMode.Merge,
              changeCol, Map.empty, dropDeletes)
              .observe(outObs, count(lit(1)).as("rows_out"))
            val deleted = writer.dvMerge(tablePath, touched, marked, payload,
              cdf, txn, readVersion.get)
            val appended = outObs.get("rows_out").asInstanceOf[Long]
            val touchedLogical = touched.flatMap(numRecordsOf).sum
            MergeResult(rowsIn, carried + touchedLogical - deleted + appended,
              "merge", changeTypes)
          } else {
            // rewrite shape: only files that can contain a matched key are
            // read and merged; an empty touched set means every change is
            // a brand-new key and the merge degenerates to writing just
            // the change payload
            val existing =
              if (touched.isEmpty) None else Some(writer.readAdds(tablePath, touched))
            val merged = Cdc.applyCdc(normalized, existing, keys, CdcMode.Merge,
              changeCol, Map.empty, dropDeletes)
              .observe(outObs, count(lit(1)).as("rows_out"))
            writer.replaceFiles(merged, tablePath, touched.map(_.path),
              mergeSchema = true, cdfChanges = cdf, txn = txn,
              readVersion = readVersion)
            val written = outObs.get("rows_out").asInstanceOf[Long]
            MergeResult(rowsIn, written + carried, "merge", changeTypes)
          }
      }
    } finally normalized.unpersist(blocking = false)
  }

  /** Split the table's active files into (touched, untouched) by the change
    * batch's per-key min/max bounds (`ranges`, logical key names; the
    * summary action computes them). A file is untouched only when its
    * stats prove NO change key can live in it (the stats bounding-box
    * argument: every change key lies inside the per-column [min,max] box,
    * so a file disjoint from the box in ANY key column matches nothing).
    * Conservative by construction: non-numeric key columns contribute no
    * bounds, files without stats or without `numRecords` count as touched,
    * and no-numeric-keys-at-all degrades to touching everything (the
    * reference's full rewrite). */
  private def partitionByKeyBounds(
      ranges: Map[String, (Option[Double], Option[Double])],
      adds: Seq[DeltaAction.AddFile],
      statKeys: Map[String, String])
      : (Seq[DeltaAction.AddFile], Seq[DeltaAction.AddFile]) = {
    if (ranges.isEmpty || adds.isEmpty) return (adds, Seq.empty)
    val (kept, _) = DeltaStats.prune(adds,
      ranges.map { case (k, r) => statKeys.getOrElse(k, k) -> r })
    val keptPaths = kept.map(_.path).toSet
    val (skippable, uncounted) = adds.filterNot(a => keptPaths(a.path))
      .partition(numRecordsOf(_).isDefined)
    // a pruned-out file whose numRecords is unreadable still merges
    // correctly if carried forward, but rows_out would undercount — rewrite
    // it instead (cannot happen with our own writes; foreign tables only)
    (kept ++ uncounted, skippable)
  }

  private def numRecordsOf(a: DeltaAction.AddFile): Option[Long] =
    a.stats.flatMap { s =>
      try Jsons.optLong(Jsons.parse(s), "numRecords")
      catch { case NonFatal(_) => None }
      // stats count PHYSICAL rows; a deletion vector hides `cardinality`
      // of them, so the carried logical row count subtracts it
    }.map(n => n - a.deletionVector.map(_.cardinality).getOrElse(0L))

  /** Merge one CDC change batch into an SCD Type-2 dimension persisted as
    * a Delta table — [[Cdc.scd2Merge]] with the table itself as both the
    * state and the sink. The replacement rows ([[Cdc.scd2MergeChanges]]:
    * the touched keys' re-closed open rows plus their new intervals) are
    * keyed uniquely by `(keys…, valid_from)`, so they upsert through
    * [[applyCdcDelta]]'s touched-files/DV merge unchanged — the
    * dimension's closed history is never read, merged, or rewritten. A
    * missing table bootstraps from the batch alone ([[Cdc.scd2]] over
    * the changes — first-batch semantics identical to the merge law).
    *
    * `txn` stamps a SetTransaction on the same commit, so an
    * at-least-once caller replaying this batch skips it via
    * [[graft.delta.DeltaWriter.lastTxnVersion]] — the exactly-once
    * discipline every other Delta sink here follows. */
  def scd2MergeDelta(
      spark: SparkSession,
      changes: DataFrame,
      tablePath: String,
      keys: Seq[String],
      versionCol: String,
      changeTypeCol: Option[String] = None,
      txn: Option[(String, Long)] = None,
      strategy: MergeStrategy = MergeStrategy.Auto): MergeResult = {
    val writer = new DeltaWriter(spark, spark.sparkContext.hadoopConfiguration)
    val replacement =
      if (!writer.tableExists(tablePath))
        Cdc.scd2(changes, keys, col(versionCol),
            changeTypeCol.map(col))
          .drop(changeTypeCol.toSeq: _*).drop(versionCol)
      else Cdc.scd2MergeChanges(writer.read(tablePath), changes, keys,
        versionCol, changeTypeCol)
    // replacement rows are already unique per (keys…, valid_from), so the
    // latest-wins dedup inside the merge is a no-op — a constant commit
    // version satisfies its ordering contract
    applyCdcDelta(spark,
      replacement.withColumn(Cdc.ChangeTypeCol, lit("update_postimage"))
        .withColumn(Cdc.CommitVersionCol, lit(0L)),
      tablePath, keys :+ "valid_from", CdcMode.Merge, txn = txn,
      strategy = strategy)
  }
}
