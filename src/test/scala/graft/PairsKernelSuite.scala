package graft

import graft.functions.{BucketPairs, PairsFunctions}
import graft.functions.TextFunctions.hamming64
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parity laws for the in-bucket pair generator
  * ([[graft.functions.BucketPairs]]): pair set, pair ORDER within a
  * bucket, emitted Hamming values, and the null semantics must all be
  * identical to the interpreted `pairStructs` HOF formulation it
  * replaced — rebuilt here verbatim — for long, int and string ids,
  * including the adversarial corners: null elements, null id fields,
  * null signature fields, empty and single-member buckets, budget 0, and
  * budget 64 (everything passes). Plus the generator-level laws the HOF
  * could not state: a bucket past the Int pair-count range pairs lazily
  * and exactly. */
class PairsKernelSuite extends SparkSpec {
  import spark.implicits._

  /** the pre-optimization HOF, verbatim from Dedup.pairStructs */
  private def pairStructsHof(sorted: org.apache.spark.sql.Column) =
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + lit(2), size(sorted)), y =>
        struct(x.as("a"), y.as("b")))))

  private val rng = new scala.util.Random(777)

  private val Budgets = Seq(0, 3, 6, 16, 64)

  private lazy val sigBucketsRaw: DataFrame = {
    def j(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    // buckets of (id, sh) members: clustered signatures so some pairs
    // pass tight budgets, plus null corners
    val buckets: Seq[Seq[(java.lang.Long, java.lang.Long)]] =
      Seq.fill(30) {
        val base = rng.nextLong()
        Seq.fill(2 + rng.nextInt(8))(
          (j(rng.nextInt(1000).toLong),
            j(base ^ (1L << rng.nextInt(64)) ^
              (if (rng.nextBoolean()) 1L << rng.nextInt(64) else 0L))))
      } ++ Seq(
        Seq.empty,
        Seq((j(1L), j(42L))),
        Seq((j(1L), j(7L)), (j(2L), j(7L)), (null, j(7L))), // null id
        Seq((j(1L), j(7L)), (j(2L), null), (j(3L), j(7L))), // null sh
        Seq((j(5L), j(0L)), (j(6L), j(-1L))), // hamming 64
        Seq((j(5L), j(3L)), (j(5L), j(3L)), (j(9L), j(2L))))
    buckets.zipWithIndex
      .map { case (ms, i) => (i, ms.map { case (a, b) => (a, b) }) }
      .toDF("bucket", "members")
  }

  /** The signature buckets with ids cast to `idType`, plus a null-element
    * bucket, each membership sorted. */
  private def sigBuckets(idType: String): DataFrame = {
    val members = s"array<struct<id: $idType, sh: bigint>>"
    sigBucketsRaw
      .select(col("bucket"), col("members").cast(members).as("members"))
      .union(Seq(99).toDF("bucket").select(col("bucket"),
        expr(s"cast(array(named_struct('id', 4L, 'sh', 7L), null, " +
          s"named_struct('id', 8L, 'sh', 7L)) as $members)").as("members")))
      .select(col("bucket"), array_sort(col("members")).as("sorted_items"))
  }

  private def fmt(r: org.apache.spark.sql.Row): String = r.mkString("|")

  /** The generator's rows per bucket in emission order: a bucket lives in
    * one partition, where `monotonically_increasing_id` grows with row
    * order. */
  private def generated(df: DataFrame, items: String, budget: Option[Int],
      cols: Seq[String]): Seq[String] =
    df.select(col("bucket"), PairsFunctions.bucketPairs(col(items), budget))
      .withColumn("pos", monotonically_increasing_id())
      .orderBy("bucket", "pos")
      .select((col("bucket") +: cols.map(col)): _*)
      .collect().map(fmt).toSeq

  private def hammingLaw(idType: String): Unit = {
    val buckets = sigBuckets(idType)
    for (budget <- Budgets) {
      // both sides ordered by (bucket, emission position): the generator
      // must reproduce the HOF's surviving pairs AND their relative
      // order within every bucket
      val nw = generated(buckets, "sorted_items", Some(budget),
        Seq("id_a", "id_b", "hamming"))
      val od = buckets
        .select(col("bucket"),
          posexplode(pairStructsHof(col("sorted_items"))).as(Seq("pos", "p")))
        .select(col("bucket"), col("pos"), col("p.a.id").as("id_a"),
          col("p.b.id").as("id_b"),
          hamming64(col("p.a.sh"), col("p.b.sh")).as("hamming"))
        .filter(col("hamming") <= budget)
        .orderBy("bucket", "pos")
        .select(col("bucket"), col("id_a"), col("id_b"), col("hamming"))
        .collect().map(fmt).toSeq
      assert(nw == od,
        s"$idType ids, budget=$budget: generator pairs diverge from the HOF formulation")
      if (budget >= 16) assert(nw.nonEmpty, "law would be vacuous")
    }
  }

  private def idLaw(idType: String): Unit = {
    def j(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    val buckets: Seq[Seq[java.lang.Long]] =
      Seq.fill(20)(Seq.fill(2 + rng.nextInt(10))(j(rng.nextInt(100).toLong))) ++
        Seq(Seq.empty, Seq(j(3L)), Seq(j(1L), null, j(5L)))
    val df = buckets.zipWithIndex.map { case (ms, i) => (i, ms) }
      .toDF("bucket", "members")
      .select(col("bucket"),
        array_sort(col("members").cast(s"array<$idType>")).as("sorted_ids"))
    val nw = generated(df, "sorted_ids", None, Seq("id_a", "id_b"))
    val od = df.select(col("bucket"),
        posexplode(pairStructsHof(col("sorted_ids"))).as(Seq("pos", "p")))
      .select(col("bucket"), col("pos"), col("p.a"), col("p.b"))
      .orderBy("bucket", "pos")
      .select(col("bucket"), col("a"), col("b"))
      .collect().map(fmt).toSeq
    assert(nw == od, s"$idType ids: generator pairs diverge from the HOF formulation")
    assert(nw.exists(_.contains("null")), "null element corner would be vacuous")
  }

  test("hammingPairs == pairStructs + hamming filter, per budget") {
    hammingLaw("bigint")
  }

  test("idPairs == pairStructs over plain long ids, order included") {
    idLaw("bigint")
  }

  test("bucketPairs == pairStructs for int and string ids, both forms") {
    for (t <- Seq("int", "string")) {
      hammingLaw(t)
      idLaw(t)
    }
  }

  test("operator-level law: hash64Pairs fused == HOF shape on real-ish sigs") {
    // long and STRING ids run the same generator — both must produce the
    // same pair set modulo the id representation
    val sigs = (0L until 300L).map { i =>
      val base = if (i % 3 == 0) 0x0123456789abcdefL else 0x0fedcba987654321L
      (i, base ^ (1L << (i % 7)).toLong)
    }.toDF("doc_id", "sh")
    val viaLong = graft.operators.Dedup
      .hash64Pairs(sigs, "doc_id", "sh", maxHamming = 3)
      .select(col("id_a").cast("string"), col("id_b").cast("string"),
        col("hamming"))
      .orderBy("id_a", "id_b").collect().map(fmt)
    val strSigs = sigs.select(
      format_string("%04d", col("doc_id")).as("doc_id"), col("sh"))
    val viaString = graft.operators.Dedup
      .hash64Pairs(strSigs, "doc_id", "sh", maxHamming = 3)
      .select((col("id_a").cast("long")).cast("string").as("id_a"),
        (col("id_b").cast("long")).cast("string").as("id_b"), col("hamming"))
      .orderBy("id_a", "id_b").collect().map(fmt)
    assert(viaLong.toSeq == viaString.toSeq)
    assert(viaLong.nonEmpty, "law would be vacuous with no pairs")
  }

  // 65,537 members: C(n, 2) = 2,147,516,416 pairs, the first bucket size
  // whose pair count exceeds Int.MaxValue
  private val Big = 65537

  private def bigBucket(elemType: DataType, elem: Int => Any): Literal =
    Literal(new GenericArrayData(Array.tabulate[Any](Big)(elem)),
      ArrayType(elemType, containsNull = false))

  test("generator streams a bucket past the Int pair count, in (i, j) order") {
    val pairs = BucketPairs(bigBucket(LongType, _.toLong), None)
      .eval(InternalRow.empty).iterator
    val expected = for {
      i <- Iterator.range(0, Big)
      j <- Iterator.range(i + 1, Big)
    } yield (i.toLong, j.toLong)
    val got = pairs.take(100000).map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected.take(100000).toSeq)
  }

  test("Hamming form over a bucket past the Int pair count finds only the planted pair") {
    // member k < 65536 repeats k in all four 16-bit blocks, so two
    // distinct members differ in >= 4 bits; the last member is member
    // 12345 with one bit flipped: within budget 2 of it alone (>= 3 bits
    // from every other member)
    def rep(k: Long): Long = k | k << 16 | k << 32 | k << 48
    val sig = StructType(Seq(StructField("id", LongType), StructField("sh", LongType)))
    val items = bigBucket(sig, k =>
      InternalRow(k.toLong, if (k < Big - 1) rep(k.toLong) else rep(12345L) ^ 1L))
    val got = BucketPairs(items, Some(2)).eval(InternalRow.empty).iterator
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq((12345L, (Big - 1).toLong, 1)))
  }
}
