package graft

import graft.delta.{DeltaLogReader, DeltaWriteMode, DeltaWriter}
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException}
import scala.jdk.CollectionConverters._

/** The job structure of [[DeltaCdc.applyCdcDelta]]'s merges: how many
  * actions each shape runs, the shuffle-free touched-key broadcast, and
  * the deletion-vector fold that runs on a second driver thread beside
  * the payload write — its jobs keep the caller's job tags and group, and
  * a failure on either side surfaces that side's own exception, commits
  * nothing and leaves no job running. */
class CdcMergeJobsSuite extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def writer = new DeltaWriter(spark, conf)
  private def log = new DeltaLogReader(conf)
  private def sc = spark.sparkContext

  /** 20 rows of (id, v) in two key-range files. */
  private def seed(t: String): Unit =
    writer.write((0L until 20L).map(i => (i, i * 10)).toDF("id", "v")
      .repartitionByRange(2, col("id")), t, DeltaWriteMode.Append)

  private def changes = Seq(
      (3L, Some(333L), "update_postimage", 1L),
      (5L, Option.empty[Long], "delete", 1L),
      (100L, Some(1L), "insert", 1L))
    .toDF("id", "v", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)

  /** Every query execution (action) `f` runs. */
  private def actionsOf(f: => Unit): Seq[QueryExecution] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe)
    }
    TestListenerBus.drain(sc)
    spark.listenerManager.register(listener)
    try { f; TestListenerBus.drain(sc) }
    finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  private case class Job(id: Int, tags: Set[String], group: Option[String])

  /** The jobs `f` starts, and the ids of those that have ended once it
    * returns (or throws). */
  private def jobsOf(f: => Unit): (Seq[Job], Set[Int]) = {
    val started = new ConcurrentLinkedQueue[Job]()
    val ended = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        started.add(Job(e.jobId,
          p.flatMap(x => Option(x.getProperty("spark.job.tags")))
            .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty),
          p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try f
    finally {
      TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    (started.asScala.toSeq, ended.asScala.toSet)
  }

  private def isFoldJob(j: Job): Boolean = j.tags.exists(_.startsWith("graft-side-"))

  private def message(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  test("a DV merge runs three actions (four with CDF), a rewrite merge two") {
    withTmpDir { tmp =>
      val shapes = Seq(
        ("dv", MergeStrategy.Auto, false, 3),
        ("dv-cdf", MergeStrategy.Auto, true, 4),
        ("rewrite", MergeStrategy.Rewrite, false, 2))
      for ((name, strategy, emitCdf, expected) <- shapes) {
        val t = s"$tmp/$name"
        seed(t)
        val actions = actionsOf(DeltaCdc.applyCdcDelta(spark, changes, t,
          Seq("id"), emitCdf = emitCdf, strategy = strategy))
        assert(actions.size === expected,
          s"$name ran ${actions.size} actions:\n" +
            actions.map(_.analyzed.simpleString(200)).mkString("\n"))
        assert(log.readCommit(t, 1).adds.exists(_.deletionVector.isDefined) ===
          (strategy == MergeStrategy.Auto))
      }
    }
  }

  test("the touched-key broadcast has no window and no exchange on its build side") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      seed(t)
      val actions = actionsOf(DeltaCdc.applyCdcDelta(spark, changes, t, Seq("id")))
      val broadcasts = actions.flatMap(qe =>
        collect(qe.executedPlan) { case b: BroadcastExchangeLike => b })
      assert(broadcasts.size === 1, "exactly the touched-key set broadcasts")
      val buildSide = broadcasts.head.child
      val offending = find(buildSide) {
        case _: WindowExec | _: ShuffleExchangeLike => true
        case _ => false
      }
      assert(offending.isEmpty, s"build side shuffles:\n$buildSide")
    }
  }

  test("fold jobs run under the caller's job tag and job group") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      seed(t)
      val (jobs, ended) = {
        sc.setJobGroup("cdc-merge-group", "job structure test")
        sc.addJobTag("cdc-merge-caller")
        try jobsOf(DeltaCdc.applyCdcDelta(spark, changes, t, Seq("id")))
        finally { sc.removeJobTag("cdc-merge-caller"); sc.clearJobGroup() }
      }
      val fold = jobs.filter(isFoldJob)
      assert(fold.nonEmpty, s"no fold job among $jobs")
      jobs.foreach { j =>
        assert(j.tags.contains("cdc-merge-caller"), s"job ${j.id} lost the tag")
        assert(j.group.contains("cdc-merge-group"), s"job ${j.id} lost the group")
      }
      assert(jobs.map(_.id).toSet.subsetOf(ended))
      assert(writer.read(t).filter(col("id") === 3L).select("v").as[Long]
        .collect().toSeq === Seq(333L))
    }
  }

  test("a failed payload write surfaces its own exception and cancels the fold") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      seed(t)
      writer.addCheckConstraint(t, "v_nonneg", "v >= 0")
      val before = log.latestVersion(t).get
      val bad = Seq((3L, -5L, "update_postimage", 1L))
        .toDF("id", "v", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      var error: Throwable = null
      val (jobs, ended) = jobsOf {
        error = intercept[Exception](DeltaCdc.applyCdcDelta(spark, bad, t, Seq("id")))
      }
      assert(!error.isInstanceOf[ExecutionException], message(error))
      assert(message(error).contains("v_nonneg"), message(error))
      assert(log.latestVersion(t).get === before, "nothing may commit")
      assert(jobs.exists(isFoldJob), "the fold must have started beside the write")
      assert(jobs.map(_.id).toSet.subsetOf(ended), "a job was left running")
    }
  }

  test("a failed fold surfaces its own exception once the payload write ends") {
    withTmpDir { tmp =>
      val t = s"$tmp/table"
      seed(t)
      val w = writer
      val before = log.latestVersion(t).get
      // a marked-row frame whose job fails at run time
      val failingMarks = spark.range(4).select(
        when(col("id") >= 0, raise_error(lit("fold failed on purpose")))
          .cast("string").as(w.RowMetaFile),
        col("id").as(w.RowMetaIndex))
      val payload = Seq((100L, 1L)).toDF("id", "v")
      var error: Throwable = null
      val (jobs, ended) = jobsOf {
        error = intercept[Exception](w.dvMerge(t, w.activeAdds(t), failingMarks,
          payload, None, None, before))
      }
      assert(!error.isInstanceOf[ExecutionException], message(error))
      assert(message(error).contains("fold failed on purpose"), message(error))
      assert(log.latestVersion(t).get === before, "nothing may commit")
      assert(jobs.exists(j => !isFoldJob(j)), "the payload write must have run")
      assert(jobs.map(_.id).toSet.subsetOf(ended), "a job was left running")
    }
  }
}
