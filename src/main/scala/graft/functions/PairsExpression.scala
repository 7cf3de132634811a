package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** In-bucket pair generation for the near-dup families (LSH minhash,
  * simhash/Manku, winnowing, the incremental near-dup fold): the (i < j)
  * pairs of a sorted bucket membership, as a Catalyst [[Generator]].
  *
  * Two forms, one iterator:
  *  - `maxHamming = None` over `array<T>` (any id type T) yields
  *    `(id_a: T, id_b: T)` rows;
  *  - `maxHamming = Some(h)` over `array<struct<id: T, sh: long>>` yields
  *    `(id_a: T, id_b: T, hamming: int)` rows for the pairs with
  *    `bit_count(a.sh ^ b.sh) <= h` — the verify runs inside the loop,
  *    so a hot bucket's failing candidates never become rows.
  *
  * Contract (pinned by PairsKernelSuite against the interpreted
  * `flatten(transform(transform(...)))` formulation it replaced, and
  * oracle-gated by every consuming query):
  *  - pairs come out (i, j), i < j, IN ARRAY ORDER;
  *  - a null `id` rides through as a null field; in the Hamming form a
  *    null element or a null `sh` drops every pair it is in (its XOR is
  *    null, which the old post-explode filter dropped);
  *  - rows are produced LAZILY: per bucket row the generator holds the
  *    unpacked members (O(n)), never the C(n, 2) pairs, and never
  *    computes the pair count — a bucket past 65,536 members (where that
  *    count leaves Int range) pairs like any other.
  *
  * `doGenCode` keeps `GenerateExec` inside whole-stage codegen (a
  * `CodegenFallback` generator would split the stage); the pair loop
  * itself is the compiled [[BucketPairs.PairIterator]]. */
case class BucketPairs(sortedItems: Expression, maxHamming: Option[Int])
    extends UnaryExpression with Generator {

  override def child: Expression = sortedItems

  @transient private lazy val idType: DataType =
    (sortedItems.dataType, maxHamming) match {
      case (ArrayType(st: StructType, _), Some(_)) if st.nonEmpty => st.head.dataType
      case (ArrayType(et, _), None) => et
      case _ => NullType
    }

  override def checkInputDataTypes(): TypeCheckResult =
    (sortedItems.dataType, maxHamming) match {
      case (ArrayType(_, _), None) => TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StructType(Array(_, StructField(_, LongType, _, _))), _),
          Some(_)) => TypeCheckResult.TypeCheckSuccess
      case (t, None) =>
        TypeCheckResult.TypeCheckFailure(s"bucket_pairs requires an array, got $t")
      case (t, Some(_)) => TypeCheckResult.TypeCheckFailure(
        s"bucket_pairs with a Hamming budget requires array<struct<id, sh: long>>, got $t")
    }

  // every field nullable: null ids pass through, and the schema matches
  // the struct fields of the formulation this replaced
  override def elementSchema: StructType = {
    val ids = new StructType().add("id_a", idType).add("id_b", idType)
    if (maxHamming.isEmpty) ids else ids.add("hamming", IntegerType)
  }

  /** The pairs of one bucket; a null or sub-2 membership yields none. */
  def pairs(items: ArrayData): Iterator[InternalRow] = {
    val n = if (items == null) 0 else items.numElements()
    if (n < 2) return Iterator.empty
    // unpack once (ids copied off the input row's buffer); the pair walk
    // then runs over plain arrays
    val ids = new Array[Any](n)
    val dead = new Array[Boolean](n)
    val shs = if (maxHamming.isDefined) new Array[Long](n) else null
    var k = 0
    while (k < n) {
      if (shs == null) {
        if (!items.isNullAt(k)) ids(k) = InternalRow.copyValue(items.get(k, idType))
      } else if (items.isNullAt(k)) dead(k) = true
      else {
        val m = items.getStruct(k, 2)
        if (m.isNullAt(1)) dead(k) = true
        else {
          shs(k) = m.getLong(1)
          if (!m.isNullAt(0)) ids(k) = InternalRow.copyValue(m.get(0, idType))
        }
      }
      k += 1
    }
    new BucketPairs.PairIterator(ids, dead, shs, maxHamming.getOrElse(64))
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    pairs(sortedItems.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = sortedItems.genCode(ctx)
    val self = ctx.addReferenceObj("bucketPairs", this)
    ev.copy(
      code = childGen.code +
        code"""
          |scala.collection.Iterator ${ev.value} =
          |  $self.pairs(${childGen.isNull} ? null : ${childGen.value});
          |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BucketPairs =
    copy(sortedItems = newChild)

  override def prettyName: String = "bucket_pairs"
  override def toString: String =
    s"$prettyName($sortedItems${maxHamming.fold("")(h => s", maxHamming=$h")})"
}

object BucketPairs {
  /** Walks (i, j), i < j, in array order, skipping dead members and (when
    * `shs` is set) pairs over the Hamming budget; one row per pair. */
  private[functions] final class PairIterator(ids: Array[Any],
      dead: Array[Boolean], shs: Array[Long], maxHamming: Int)
      extends Iterator[InternalRow] {
    private[this] val n = ids.length
    private[this] var i = 0
    private[this] var j = 1 // next partner of i to test
    private[this] var pending: InternalRow = null

    override def hasNext: Boolean = pending != null || {
      pending = advance()
      pending != null
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("no more bucket pairs")
      val row = pending
      pending = null
      row
    }

    private def advance(): InternalRow = {
      while (i < n - 1) {
        if (j >= n || dead(i)) { i += 1; j = i + 1 }
        else {
          val b = j
          j += 1
          if (!dead(b)) {
            if (shs == null) return new GenericInternalRow(Array[Any](ids(i), ids(b)))
            val h = java.lang.Long.bitCount(shs(i) ^ shs(b))
            if (h <= maxHamming)
              return new GenericInternalRow(Array[Any](ids(i), ids(b), h))
          }
        }
      }
      null
    }
  }
}

/** Column-level entry point. */
object PairsFunctions {
  /** The (i < j) pairs of a sorted bucket: `(id_a, id_b)` rows from an
    * `array<id>`, or, given a budget, `(id_a, id_b, hamming)` rows with
    * Hamming <= `maxHamming` from an `array<struct<id, sh: long>>`. A
    * generator: use it as the one generator of a `select`. */
  def bucketPairs(sortedItems: Column, maxHamming: Option[Int] = None): Column =
    Bridge.column(BucketPairs(Bridge.expression(sortedItems), maxHamming))
}
