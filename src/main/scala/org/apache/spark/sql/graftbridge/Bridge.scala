package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.util.ThreadUtils

import java.util.concurrent.{CompletableFuture, ExecutorService}

/** Column <-> Expression bridge. Spark 4 made these converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`); this
  * subpackage re-exports the calls a library registering custom
  * Catalyst expressions, or running actions off the caller's thread,
  * needs. No Spark internals are reimplemented. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Run `body` on `exec` with the calling thread's Spark context
    * captured: its local properties (job tags, job group, scheduler
    * pool) and `session` as the active session — the way Spark's own
    * broadcast and subquery threads launch jobs on a caller's behalf. */
  def withThreadLocalCaptured[T](session: SparkSession, exec: ExecutorService)(
      body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(
      session.asInstanceOf[classic.SparkSession], exec)(body)

  /** Spark's own daemon pool: at most `threads` threads named
    * `prefix-N`, each exiting after a minute idle. */
  def daemonThreadPool(prefix: String, threads: Int): ExecutorService =
    ThreadUtils.newDaemonCachedThreadPool(prefix, threads)
}
