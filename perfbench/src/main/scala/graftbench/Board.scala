package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** `board`: passes over a fixed list of `SparkEntry.queries`, each written
  * to the `noop` sink like `graft.Bench`, in a seeded order per pass. This
  * is where planning, scans, the `graft.functions` kernels and exchange do
  * the work; the pipeline, the WAL and the sources are not involved. */
object Board {
  val WarmupPasses = 2

  def run(spark: SparkSession, rec: Recorder, input: String, expectedFile: String,
      seed: Long, seconds: Double): Outcome = {
    val expected = Main.readCounts(expectedFile, "queries")
    val names = expected.keys.toVector.sorted
    val queries = SparkEntry.queries

    // set-up: build (plan, without executing) every query on the list
    val (setup, _) = Main.repeatSetup(_ => names.foreach(queries(_)(spark, input)))

    var attempted = 0L
    var failedCalls = 0L
    val failures = Map.newBuilder[String, String]
    val wrongRows = Map.newBuilder[String, String]
    def query(name: String, pass: Int): Unit = {
      attempted += 1
      rec.unit(if (pass < WarmupPasses) "warmup" else "query") {
        rec.set("name", name)
        rec.set("pass", pass)
        rec.set("group", if (name.startsWith("q_")) "relational" else "curation")
        try {
          val (df, buildMs) = rec.timed("queries.build")(rec.sideJobs(queries(name)(spark, input)))
          val obs = Observation()
          val (_, execMs) = rec.timed("queries.execute") {
            df.observe(obs, count(lit(1)).as("rows"))
              .write.mode("overwrite").format("noop").save()
          }
          val rows = obs.get("rows").asInstanceOf[Long]
          rec.set("queries.build_ms", buildMs)
          rec.set("queries.exec_ms", execMs)
          rec.set("rows", rows)
          System.err.println(f"[board] pass $pass $name%-28s build $buildMs%8.1f ms exec $execMs%8.1f ms rows $rows")
          if (rows != expected(name)) wrongRows += name -> s"$rows rows, expected ${expected(name)}"
        } catch {
          case e: Exception =>
            failedCalls += 1
            failures += name -> s"${e.getClass.getName}: ${e.getMessage}"
        } finally spark.catalog.clearCache()
        true
      }
    }

    Main.phase("set-up done")
    // the first passes warm the session (codegen, footers, JIT); pass 0,
    // the cold one, is reported on its own. Timed passes follow while
    // another one fits the run.
    var deadline = Long.MaxValue
    var pass = 0
    var lastPassNs = 0L
    while (pass <= WarmupPasses || System.nanoTime() + lastPassNs <= deadline) {
      val t0 = System.nanoTime()
      new scala.util.Random(seed * 1000003L + pass).shuffle(names).foreach(query(_, pass))
      lastPassNs = System.nanoTime() - t0
      if (pass == WarmupPasses - 1) deadline = System.nanoTime() + (seconds * 1e9).toLong
      pass += 1
    }

    val failed = failures.result()
    val wrong = wrongRows.result()
    val checks = Seq(
      ("every_query_completes", failed.isEmpty, failed.mkString("; ")),
      ("row_counts_match", wrong.isEmpty, wrong.mkString("; ")))
    Outcome(setup, checks, attempted, failedCalls, Map("passes" -> pass))
  }
}
