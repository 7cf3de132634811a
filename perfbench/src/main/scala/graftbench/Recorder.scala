package graftbench

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed call: `parent` is the span open when it started (-1 at the
  * root); spans of one batch or query share `unit`. */
case class Span(id: Int, parent: Int, unit: Int, name: String, startNs: Long, endNs: Long)

/** Times the benchmark's calls into the engine and, in a traced run,
  * records a span per call plus the Spark counts of each unit of work (a
  * pipeline batch, a replication round or a board query).
  *
  * Untraced runs only take `System.nanoTime` around the calls the
  * end-to-end metrics need. Traced runs additionally tag every Spark job
  * with the unit's id (`addJobTag`), fold task metrics per tag through a
  * [[SparkListener]], read planning phases through a
  * [[QueryExecutionListener]] and drain the listener bus at the end of each
  * unit, so every count lands on the unit that caused it. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var unitId = -1
  private var current: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val units = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  /** Main-thread time the tracing itself cost: listener-bus drains and the
    * count bookkeeping at unit ends. */
  var overheadNs = 0L

  private val jobs = new JobCounters
  private val plans = new PlanCounters
  if (traced) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  def spans: Seq[Span] = spanBuf.toSeq

  /** Runs `f`, returning its result and wall milliseconds; traced runs
    * also record it as a span under the innermost open one. */
  def timed[T](name: String)(f: => T): (T, Double) = {
    val id = spanBuf.size
    if (traced) { spanBuf += null; open = id :: open }
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e6)
    } finally if (traced) {
      open = open.tail
      spanBuf(id) = Span(id, open.headOption.getOrElse(-1), unitId, name, t0,
        System.nanoTime())
    }
  }

  def span[T](name: String)(f: => T): T = timed(name)(f)._1

  /** Adds `v` to field `key` of the unit in progress. */
  def add(key: String, v: Double): Unit =
    current(key) = current.getOrElse(key, 0.0).asInstanceOf[Double] + v

  def set(key: String, v: Any): Unit = current(key) = v

  /** Runs one unit of work; `body` returns whether the unit did work (an
    * idle poll is dropped). The record gets `ms` plus, when traced, the
    * unit's Spark and planning counts. */
  def unit(kind: String)(body: => Boolean): Option[mutable.LinkedHashMap[String, Any]] = {
    unitId += 1
    current = mutable.LinkedHashMap[String, Any]("kind" -> kind)
    val tag = s"graftbench-u$unitId"
    val cg0 = if (traced) CodeGenerator.compileTime else 0L
    if (traced) sc.addJobTag(tag)
    val (kept, ms) =
      try timed(kind)(body)
      finally if (traced) sc.removeJobTag(tag)
    current("ms") = ms
    if (traced) {
      val t0 = System.nanoTime()
      ListenerDrain(sc)
      current ++= jobs.take(tag)
      current ++= plans.take()
      current("queries.codegen_ms") = (CodeGenerator.compileTime - cg0) / 1e6
      overheadNs += System.nanoTime() - t0
    }
    if (kept) { units += current; Some(current) } else None
  }

  /** Tags the jobs `f` launches as side jobs of the unit in progress. */
  def sideJobs[T](f: => T): T =
    if (!traced) f
    else {
      val tag = s"graftbench-u$unitId-side"
      sc.addJobTag(tag)
      try f finally sc.removeJobTag(tag)
    }

  def close(): Unit = if (traced) {
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
  }
}

/** Per-tag job, task and stage counts. */
private final class JobCounters extends SparkListener {
  private final class Acc {
    var jobs, sideJobs, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val byTag = mutable.Map.empty[String, Acc]
  private val stageTag = mutable.Map.empty[Int, String]

  private def unitTag(props: java.util.Properties): Option[(String, Boolean)] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")).filter(_.startsWith("graftbench-u")) match {
        case Seq() => None
        case tags =>
          val side = tags.exists(_.endsWith("-side"))
          Some((tags.map(_.stripSuffix("-side")).head, side))
      }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    unitTag(e.properties).foreach { case (tag, side) =>
      val a = byTag.getOrElseUpdate(tag, new Acc)
      a.jobs += 1
      if (side) a.sideJobs += 1
      e.stageIds.foreach(stageTag(_) = tag)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (tag <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = byTag.getOrElseUpdate(tag, new Acc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** The counts of `tag`, removed from the accumulator. */
  def take(tag: String): Seq[(String, Any)] = synchronized {
    val a = byTag.remove(tag).getOrElse(new Acc)
    a.stageTaskMs.keys.foreach(stageTag.remove)
    // skew of a stage = slowest task over the median task; the unit's is
    // its worst multi-task stage (1 when no stage has two tasks)
    val skew = a.stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }.foldLeft(1.0)(math.max)
    Seq("spark.jobs" -> a.jobs, "queries.side_jobs" -> a.sideJobs,
      "spark.tasks" -> a.tasks, "spark.executor_run_ms" -> a.runMs,
      "spark.executor_cpu_ms" -> a.cpuNs / 1e6, "spark.gc_ms" -> a.gcMs,
      "spark.shuffle_read_bytes" -> a.shuffleRead,
      "spark.shuffle_write_bytes" -> a.shuffleWrite,
      "spark.spill_bytes" -> a.spill, "spark.input_bytes" -> a.input,
      "spark.task_skew" -> skew)
  }
}

/** Planning-phase time of every query execution since the last `take`. */
private final class PlanCounters extends QueryExecutionListener {
  private var analysis, optimization, planning = 0L

  private def add(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    analysis += p.get("analysis").map(_.durationMs).getOrElse(0L)
    optimization += p.get("optimization").map(_.durationMs).getOrElse(0L)
    planning += p.get("planning").map(_.durationMs).getOrElse(0L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

  def take(): Seq[(String, Any)] = synchronized {
    val r = Seq("queries.analysis_ms" -> analysis, "queries.optimization_ms" -> optimization,
      "queries.planning_ms" -> planning)
    analysis = 0; optimization = 0; planning = 0
    r
  }
}
