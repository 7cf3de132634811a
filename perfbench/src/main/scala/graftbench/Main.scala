package graftbench

import graft.GraftSession
import graft.delta.{DeltaLogReader, DeltaWriter}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one workload run hands back: set-up times, the checks on the
  * engine's outputs, call counts and run-level facts. Per-unit records and
  * spans live on the [[Recorder]]. */
case class Outcome(setupS: Seq[Double], checks: Seq[(String, Boolean, String)],
    attempted: Long, failed: Long, facts: Map[String, Any])

/** Benchmark runner. Runs one workload against the engine's public API in
  * this JVM (`local[4]`, one closed-loop client) and writes its raw
  * measurements as JSON; `perfbench/run.py` turns them into metrics.
  *
  * Usage: Main --workload ingest|cdc|board --input DIR --work DIR --out FILE
  *   --seed N --seconds N --trace 0|1 [--expected FILE] */
object Main {
  val SetupRepeats = 3
  private val t0 = System.nanoTime()

  /** Progress line on stderr, with the time since the JVM started. */
  def phase(what: String): Unit =
    System.err.println(f"[graftbench] $what at +${(System.nanoTime() - t0) / 1e9}%.1f s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val input = opt("input")
    val work = opt("work")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"

    val spark = GraftSession.local(4, s"graftbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    phase("session started")
    val rec = new Recorder(spark, traced)
    val outcome =
      try workload match {
        case "ingest" => Ingest.run(spark, rec, input, work, seconds)
        case "cdc" => CdcReplication.run(spark, rec, input, work, seconds)
        case "board" => Board.run(spark, rec, input, opt("expected"), seed, seconds)
        case other => sys.error(s"unknown workload $other")
      } finally rec.close()
    phase("workload done")
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "setup_s" -> outcome.setupS,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "checks" -> outcome.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "facts" -> outcome.facts,
      "units" -> rec.units.map(_.toMap),
      "trace_overhead_ms" -> rec.overheadNs / 1e6,
      "spans" -> rec.spans.map(s => Seq(s.id, s.parent, s.unit, s.name, s.startNs, s.endNs)))
    json.writeValue(new java.io.File(opt("out")), out)
    spark.stop()
    phase("session stopped")
    sys.exit(0) // no lingering non-daemon thread may keep the JVM alive
  }

  /** Timed set-up repeated on fresh state; the last instance is returned
    * for the measured phase. */
  def repeatSetup[T](make: Int => T): (Seq[Double], T) = {
    val runs = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val r = make(i)
      ((System.nanoTime() - t0) / 1e9, r)
    }
    (runs.map(_._1), runs.last._2)
  }

  def dirBytes(path: String, conf: Configuration): Long = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, conf)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Log-level facts about a Delta table the run wrote, over the versions
    * committed after `fromVersion`. `inputBytes` is what the writes
    * consumed, for the write amplification ratio. */
  def deltaFacts(w: DeltaWriter, table: String, fromVersion: Long,
      inputBytes: Long, conf: Configuration): Map[String, Any] = {
    val log = new DeltaLogReader(conf)
    val latest = log.latestVersion(table).getOrElse(-1L)
    val commits = ((fromVersion + 1) to latest).map(log.readCommit(table, _))
    val adds = w.activeAddsAt(table, latest)
    Map(
      "delta.log_bytes" -> dirBytes(log.logDir(table).toString, conf),
      "delta.active_files" -> adds.size,
      "delta.dv_files" -> adds.count(_.deletionVector.isDefined),
      "delta.removes_per_commit" ->
        (if (commits.isEmpty) 0.0 else commits.map(_.removes.size).sum.toDouble / commits.size),
      "delta.bytes_per_input_byte" ->
        (if (inputBytes == 0) 0.0 else commits.flatMap(_.adds).map(_.size).sum.toDouble / inputBytes))
  }

  /** The `name -> count` object under `field` of a JSON file (the input
    * manifest or the board's expected row counts). */
  def readCounts(path: String, field: String): Map[String, Long] = {
    val node = json.readTree(new java.io.File(path)).get(field)
    node.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
}
