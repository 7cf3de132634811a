package graft

import graft.core.{SchemaEvolutionError, WriteAheadLog}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mirrors the reference matrix (`tests/test_schema_evolution.py:17-198`,
  * `tests/test_schema_utils.py:26-161`): per-mode accept/reject, cross-batch
  * persistence, widening lattice variants, rescue column. */
class SchemaEvolutionSuite extends SparkSpec {
  import spark.implicits._

  private def wal(dir: String) = new WriteAheadLog(dir, conf)

  test("first batch persists inferred schema") {
    withTmpDir { tmp =>
      val w = wal(tmp)
      val se = new SchemaEvolution(SchemaPolicy.Strict)
      val df = Seq((1L, "a")).toDF("id", "s")
      se.applyTo(df, w)
      val stored = w.readMetadata().get.get("schema")
      val st = DataType.fromJson(stored.toString).asInstanceOf[StructType]
      assert(st.fieldNames.toSeq === Seq("id", "s"))
    }
  }

  test("strict: new column and type drift are errors") {
    withTmpDir { tmp =>
      val w = wal(tmp)
      val se = new SchemaEvolution(SchemaPolicy.Strict)
      se.applyTo(Seq((1L, "a")).toDF("id", "s"), w)
      intercept[SchemaEvolutionError](
        se.applyTo(Seq((1L, "a", 2.0)).toDF("id", "s", "x"), w))
      intercept[SchemaEvolutionError](
        se.applyTo(Seq(("1", "a")).toDF("id", "s"), w))
    }
  }

  test("add_new_columns: appends new, null-fills missing, persists") {
    withTmpDir { tmp =>
      val w = wal(tmp)
      val se = new SchemaEvolution(SchemaPolicy.AddNewColumns)
      se.applyTo(Seq((1L, "a")).toDF("id", "s"), w)
      val out = se.applyTo(Seq((2L, 5.0)).toDF("id", "x"), w)
      assert(out.columns.toSeq === Seq("id", "s", "x"))
      val row = out.head()
      assert(row.isNullAt(1) && row.getDouble(2) === 5.0)
      // next batch with only original columns gets x null-filled
      val out2 = se.applyTo(Seq((3L, "c")).toDF("id", "s"), w)
      assert(out2.columns.toSeq === Seq("id", "s", "x"))
      assert(out2.head().isNullAt(2))
    }
  }

  test("coerce: casts to stored types, failures become null, rescue captures") {
    withTmpDir { tmp =>
      val w = wal(tmp)
      val se = new SchemaEvolution(SchemaPolicy.Coerce, rescueColumn = Some("_rescued"))
      se.applyTo(Seq((1L, 10L)).toDF("id", "v"), w)
      val out = se.applyTo(Seq(("2", "not-a-number")).toDF("id", "v"), w)
        .orderBy("id")
      val row = out.head()
      assert(row.getLong(0) === 2L) // "2" cast to long
      assert(row.isNullAt(1)) // failed cast -> null
      val rescued = row.getStruct(row.fieldIndex("_rescued"))
      assert(rescued.getString(rescued.fieldIndex("v")) === "not-a-number")
    }
  }

  test("type_widen: batch wider than stored widens and persists") {
    withTmpDir { tmp =>
      val w = wal(tmp)
      val se = new SchemaEvolution(SchemaPolicy.TypeWiden)
      se.applyTo(Seq(1, 2).toDF("v"), w) // int
      val out = se.applyTo(Seq(3L).toDF("v"), w) // long
      assert(out.schema("v").dataType === LongType)
      val st = DataType.fromJson(
        w.readMetadata().get.get("schema").toString).asInstanceOf[StructType]
      assert(st("v").dataType === LongType)
    }
  }

  test("widening lattice rules") {
    val se = new SchemaEvolution(SchemaPolicy.TypeWiden)
    assert(se.widen(IntegerType, LongType) === LongType)
    assert(se.widen(ByteType, ShortType) === ShortType)
    assert(se.widen(FloatType, DoubleType) === DoubleType)
    assert(se.widen(IntegerType, DoubleType) === DoubleType)
    assert(se.widen(BooleanType, IntegerType) === IntegerType)
    assert(se.widen(LongType, StringType) === StringType)
    assert(se.widen(StringType, DoubleType) === StringType)
    assert(se.widen(DecimalType(10, 2), DecimalType(12, 1)) === DecimalType(12, 2))
    intercept[SchemaEvolutionError](se.widen(BinaryType, IntegerType))
    // commutative + idempotent spot checks
    assert(se.widen(IntegerType, LongType) === se.widen(LongType, IntegerType))
    assert(se.widen(LongType, LongType) === LongType)
  }

  test("explicit schema wins over stored") {
    withTmpDir { tmp =>
      val w = wal(tmp)
      val explicit = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType)))
      val se = new SchemaEvolution(SchemaPolicy.Coerce, explicitSchema = Some(explicit))
      val out = se.applyTo(Seq((1, 2)).toDF("id", "v"), w)
      assert(out.schema("id").dataType === LongType)
      assert(out.schema("v").dataType === DoubleType)
    }
  }

  test("query table reader re-infers a table rewritten in-process") {
    withTmpDir { tmp =>
      Seq((1L, "a")).toDF("id", "s").write.parquet(s"$tmp/tbl.parquet")
      assert(Queries.t(spark, tmp, "tbl").columns.toSeq === Seq("id", "s"))
      Seq((2L, "b", 7.5)).toDF("id", "s", "v")
        .write.mode("overwrite").parquet(s"$tmp/tbl.parquet")
      val rows = Queries.t(spark, tmp, "tbl").select("id", "s", "v").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
        Seq((2L, "b", 7.5)))
    }
  }
}
