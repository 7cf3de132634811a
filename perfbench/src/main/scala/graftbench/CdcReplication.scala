package graftbench

import graft.{DeltaCdc, Pipeline}
import graft.delta.{DeltaLogReader, DeltaWriteMode, DeltaWriter}
import graft.sources.{DeltaSource, DeltaSourceOptions, DeltaTableCheckpoint}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Compares a replica with its source table as multisets of rows. */
object MirrorCheck {
  /** (rows only in `mirror`, rows only in `upstream`), over the upstream's
    * columns. Both are 0 exactly when the two tables hold the same rows. */
  def diff(mirror: DataFrame, upstream: DataFrame): (Long, Long) = {
    val cols = upstream.columns.map(col).toSeq
    val m = mirror.select(cols: _*)
    val u = upstream.select(cols: _*)
    (m.exceptAll(u).count(), u.exceptAll(m).count())
  }
}

/** `cdc`: Delta change-data-feed replication with writes next to reads. A
  * seeded change stream is merged into an upstream table with
  * `applyCdcDelta(emitCdf = true)`; after each upstream commit a pipeline
  * over the upstream's change feed drains it and merges it into a mirror.
  * The merges exercise the Delta layer's write side (stats pruning,
  * deletion-vector or rewrite merges, checkpoints) and the drain its read
  * side (log replay, CDF planning). */
object CdcReplication {
  val Key = Seq("c_custkey")
  val MirrorApp = "graftbench-mirror"
  val SeedFiles = 16
  val WarmupRounds = 4

  final class Instance(val upstream: String, val mirror: String,
      val checkpoint: String, val pipeline: Pipeline, val source: TimedSource)

  def run(spark: SparkSession, rec: Recorder, input: String, work: String,
      seconds: Double): Outcome = {
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = new DeltaWriter(spark, conf)
    val log = new DeltaLogReader(conf)
    val rounds = Main.readCounts(s"$input/manifest.json", "rounds").toVector.sortBy(_._1)

    def fresh(i: Int): Instance = {
      val root = s"$work/cdc-$i"
      val upstream = s"$root/upstream"
      val mirror = s"$root/mirror"
      // key-range files, so the merges' stats pruning has files to skip
      writer.write(spark.read.parquet(s"$input/customer.parquet")
        .repartitionByRange(SeedFiles, col(Key.head)), upstream, DeltaWriteMode.Append)
      val logDir = new java.io.File(s"$upstream/_delta_log")
      val source = new TimedSource(
        new DeltaSource(upstream, new DeltaTableCheckpoint(s"$root/checkpoint", conf),
          DeltaSourceOptions(readChangeFeed = true)),
        rec, () => logDir.list().length.toLong)
      val pipeline = new Pipeline(
        source = source,
        writer = (df, ctx) => {
          val (r, ms) = rec.timed("sink.write") {
            DeltaCdc.applyCdcDelta(spark, df, mirror, Key, txn = Some((MirrorApp, ctx.batchId)))
          }
          rec.add("write_ms", ms)
          rec.add("sources.cdf_rows", r.rowsIn.toDouble)
          if (rec.traced) writer.latestVersion(mirror).foreach(rec.set("version", _))
          Map("rows_out" -> r.rowsOut.toString)
        },
        spark = spark)
      new Instance(upstream, mirror, s"$root/checkpoint", pipeline, source)
    }

    def drain(inst: Instance): Int = {
      var n = 0
      while (rec.span("pipeline.runOnce")(inst.pipeline.runOnce()).isDefined) n += 1
      n
    }

    // set-up: seed the upstream table and replicate its snapshot
    val (setup, inst) = Main.repeatSetup { i =>
      val inst = fresh(i)
      drain(inst)
      inst
    }
    val mirrorFirst = writer.latestVersion(inst.mirror).getOrElse(-1L)
    val upstreamFirst = writer.latestVersion(inst.upstream).getOrElse(-1L)
    val bytesBefore = inst.source.admittedBytes

    var attempted = 0L
    var failed = 0L
    var error = ""
    val changeSchema = spark.read.parquet(s"$input/changes/${rounds.head._1}").schema
    Main.phase("set-up done")
    var deadline = Long.MaxValue
    val pending = rounds.iterator
    var ok = true
    var round = 0
    while (ok && pending.hasNext && System.nanoTime() < deadline) {
      val (file, changeRows) = pending.next()
      // the first rounds warm the merge paths and the JIT (round times keep
      // falling for several rounds) and are not reported
      ok = try {
        rec.unit(if (round < WarmupRounds) "warmup" else "round") {
          rec.set("rows", changeRows)
          attempted += 1
          val changes = spark.read.schema(changeSchema).parquet(s"$input/changes/$file")
          val (m, mergeMs) = rec.timed("cdc.merge") {
            DeltaCdc.applyCdcDelta(spark, changes, inst.upstream, Key, emitCdf = true)
          }
          rec.set("merge_ms", mergeMs)
          rec.set("cdc.rows_in", m.rowsIn)
          rec.set("cdc.rows_out", m.rowsOut)
          if (rec.traced) {
            val v = log.latestVersion(inst.upstream).get
            val before = writer.activeAddsAt(inst.upstream, v - 1).size
            val touched = log.readCommit(inst.upstream, v).removes.map(_.path).distinct.size
            rec.set("cdc.touched_files_share", touched.toDouble / math.max(1, before))
          }
          attempted += 1
          val (batches, lagMs) = rec.timed("replication.drain")(drain(inst))
          rec.set("lag_ms", lagMs)
          rec.set("batches", batches)
          true
        }.isDefined
      } catch {
        case e: Exception =>
          failed += 1; error = s"${e.getClass.getName}: ${e.getMessage}"; false
      }
      if (round == WarmupRounds - 1) deadline = System.nanoTime() + (seconds * 1e9).toLong
      round += 1
    }

    Main.phase("measured")
    // output check: the mirror holds exactly the upstream's rows
    val (onlyMirror, onlyUpstream) =
      MirrorCheck.diff(writer.read(inst.mirror), writer.read(inst.upstream))
    val checks = Seq(
      ("mirror_equals_upstream", onlyMirror == 0 && onlyUpstream == 0,
        s"mirror-only rows=$onlyMirror upstream-only rows=$onlyUpstream"),
      ("no_failed_calls", failed == 0, error))
    val facts: Map[String, Any] =
      if (!rec.traced) Map.empty
      else Main.deltaFacts(writer, inst.mirror, mirrorFirst,
        inst.source.admittedBytes - bytesBefore, conf) ++
        Map("sources.checkpoint_bytes" -> Main.dirBytes(inst.checkpoint, conf),
          "upstream.log_bytes" -> Main.dirBytes(log.logDir(inst.upstream).toString, conf),
          "upstream.commits" -> (writer.latestVersion(inst.upstream).getOrElse(-1L) - upstreamFirst))
    Outcome(setup, checks, attempted, failed, facts)
  }
}
