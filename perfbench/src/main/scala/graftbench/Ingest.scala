package graftbench

import graft.Pipeline
import graft.delta.DeltaWriter
import graft.sinks.DeltaSink
import graft.sources.{FileSource, FileSourceOptions, FileStreamCheckpoint}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `ingest`: the file-stream pipeline drains a staged backlog of small
  * parquet files, one file per batch, aggregating each batch by
  * (user_id, event_type) and appending it to a Delta table with a txn
  * watermark. Nearly all of a batch's time is per-batch fixed cost, and
  * planning cost grows with the history the checkpoint holds. */
object Ingest {
  val AppId = "graftbench-ingest"

  final class Instance(val pipeline: Pipeline, val source: TimedSource,
      val table: String, val checkpoint: String)

  def run(spark: SparkSession, rec: Recorder, input: String, work: String,
      seconds: Double): Outcome = {
    val conf = spark.sparkContext.hadoopConfiguration
    val backlog = s"$input/backlog"
    val rowsOf = Main.readCounts(s"$input/manifest.json", "files")
    val backlogDir = new java.io.File(backlog)
    val writer = new DeltaWriter(spark, conf)

    def fresh(i: Int): Instance = {
      val root = s"$work/ingest-$i"
      val table = s"$root/sink"
      val source = new TimedSource(
        new FileSource(backlog, new FileStreamCheckpoint(s"$root/checkpoint", conf), "parquet",
          FileSourceOptions(pattern = "*.parquet", maxFilesPerTrigger = Some(1))),
        rec, () => backlogDir.list().length.toLong)
      val pipeline = new Pipeline(
        source = source,
        transform = Some((df, _) => rec.span("transform") {
          df.groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        }),
        writer = (df, ctx) => {
          val (meta, ms) = rec.timed("sink.write") {
            DeltaSink.writeBatch(df, table, AppId, ctx.batchId)
          }
          rec.add("write_ms", ms)
          meta.get("version").foreach(v => rec.set("version", v.toLong))
          meta
        },
        spark = spark)
      new Instance(pipeline, source, table, s"$root/checkpoint")
    }

    var attempted = 0L
    var failed = 0L
    var error = ""
    // one batch through a pipeline; false once the backlog is drained
    def batch(inst: Instance): Boolean = {
      attempted += 1
      val before = inst.source.admitted.size
      rec.unit("batch") {
        val r = rec.span("pipeline.runOnce")(inst.pipeline.runOnce())
        inst.source.admitted.drop(before).headOption.foreach { p =>
          rec.add("rows", rowsOf(new org.apache.hadoop.fs.Path(p).getName).toDouble)
        }
        r.isDefined
      }.isDefined
    }

    // set-up: a fresh checkpoint and sink, the pipeline, and its first
    // batch (which creates the sink table)
    val (setup, inst) = Main.repeatSetup { i =>
      val inst = fresh(i)
      inst.pipeline.runOnce()
      inst
    }
    val firstVersion = writer.latestVersion(inst.table).getOrElse(-1L)
    val bytesBefore = inst.source.admittedBytes

    Main.phase("set-up done")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var more = true
    while (more && System.nanoTime() < deadline) {
      more = try batch(inst) catch {
        case e: Exception =>
          failed += 1; error = s"${e.getClass.getName}: ${e.getMessage}"; false
      }
    }

    Main.phase("measured")
    // output check: every admitted input row is counted exactly once
    val expected = inst.source.admitted.map(p => rowsOf(new org.apache.hadoop.fs.Path(p).getName)).sum
    val got = writer.read(inst.table).agg(sum("n")).head().getLong(0)
    val checks = Seq(
      ("sink_sum_n_equals_input_rows", got == expected,
        s"sum(n)=$got input rows=$expected over ${inst.source.admitted.size} files"),
      ("no_failed_batches", failed == 0, error))
    val facts: Map[String, Any] =
      if (!rec.traced) Map.empty
      else Main.deltaFacts(writer, inst.table, firstVersion,
        inst.source.admittedBytes - bytesBefore, conf) ++
        Map("sources.checkpoint_bytes" -> Main.dirBytes(inst.checkpoint, conf))
    Outcome(setup, checks, attempted, failed, facts)
  }
}
