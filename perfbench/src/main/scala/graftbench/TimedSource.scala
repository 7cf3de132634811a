package graftbench

import graft.core.BatchInfo
import graft.sources.Source
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A [[Source]] that times the engine's plan, read and commit calls and
  * records what each planned batch admitted. `listed` counts the candidates
  * the planner has to look at; it is only taken in traced runs. */
final class TimedSource(inner: Source, rec: Recorder, listed: () => Long) extends Source {
  var admitted: Vector[String] = Vector.empty
  var admittedBytes = 0L

  def planBatch(): Option[BatchInfo] = {
    if (rec.traced) rec.add("sources.listed", listed().toDouble)
    val (b, ms) = rec.timed("sources.plan")(inner.planBatch())
    rec.add("sources.plan_ms", ms)
    b.foreach { b =>
      rec.add("sources.admitted", b.files.size)
      admitted ++= b.paths
      admittedBytes += b.totalBytes
    }
    b
  }

  def readBatch(spark: SparkSession, batch: BatchInfo): DataFrame = {
    val (df, ms) = rec.timed("sources.read")(inner.readBatch(spark, batch))
    rec.add("sources.read_ms", ms)
    df
  }

  def commitBatch(batch: BatchInfo, metadata: Map[String, String]): Unit =
    rec.add("sources.commit_ms",
      rec.timed("sources.commit")(inner.commitBatch(batch, metadata))._2)

  def checkpointDir: String = inner.checkpointDir
  def conf: org.apache.hadoop.conf.Configuration = inner.conf
}
