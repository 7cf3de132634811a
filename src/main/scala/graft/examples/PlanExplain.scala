package graft.examples

import graft.{GraftSession, Queries}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to files — the
  * before/after plan evidence an optimization round commits alongside the
  * bench numbers — and print each query's exchange economy on one line:
  * shuffle / broadcast / reused-exchange counts, the quick check to run
  * after adding or reshaping an operator ([[PlanAudit]] sweeps for
  * FORBIDDEN shapes; this shows the cost shape, so a regression from one
  * exchange to four is visible before the bench run).
  *
  * Run: sbt "runMain graft.examples.PlanExplain <sfDir> <outDir> <suffix> <query> [query…]"
  * Writes <outDir>/<query>_<suffix>.txt per query.
  */
object PlanExplain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanExplain <sfDir> <outDir> <suffix> <query> [query…]")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val spark = GraftSession.builderDefaults(
      SparkSession.builder().master("local[8]"), 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    args.drop(3).foreach { name =>
      val df = Queries.defs(name).build(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), formatted)
      val plan = df.queryExecution.executedPlan.toString
      // shuffles only: a bare "Exchange" count would also match
      // BroadcastExchange/ReusedExchange and misread exactly when
      // comparing runs (a broadcast added vs a shuffle added)
      val nShuffle = "Exchange (hash|range|Single)".r.findAllIn(plan).length
      val nBr = "BroadcastExchange".r.findAllIn(plan).length
      val nReused = "ReusedExchange".r.findAllIn(plan).length
      println(s"wrote $outDir/${name}_$suffix.txt (${formatted.length} chars) " +
        s"shuffles=$nShuffle broadcasts=$nBr reused=$nReused")
    }
    spark.stop()
  }
}
