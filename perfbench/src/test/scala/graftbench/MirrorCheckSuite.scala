package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class MirrorCheckSuite extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  private def table(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("c_custkey", "c_name")
  }

  private val upstream = Seq(1L -> "a", 2L -> "b", 3L -> "c")

  test("identical tables, in any row and column order, do not differ") {
    val mirror = table(upstream.reverse: _*).select("c_name", "c_custkey")
    assert(MirrorCheck.diff(mirror, table(upstream: _*)) == ((0L, 0L)))
  }

  test("a planted divergence is flagged on both sides") {
    val changed = table(1L -> "a", 2L -> "B", 3L -> "c")
    assert(MirrorCheck.diff(changed, table(upstream: _*)) == ((1L, 1L)))
    val missing = table(1L -> "a", 2L -> "b")
    assert(MirrorCheck.diff(missing, table(upstream: _*)) == ((0L, 1L)))
    val duplicated = table(upstream :+ (3L -> "c"): _*)
    assert(MirrorCheck.diff(duplicated, table(upstream: _*)) == ((1L, 0L)))
  }
}
