package graft

import graft.core._
import graft.delta.{DeltaLogReader, DeltaWriteMode, DeltaWriter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Write-side protocol compliance: the engine must REFUSE to commit to a
  * table whose writer features it would silently violate (the spec's
  * writer-version gate — the twin of the read-side capability guard), and
  * must ENFORCE the data-quality features it claims: `delta.appendOnly`,
  * CHECK constraints (`delta.constraints.*`), column invariants
  * (`delta.invariants` field metadata), and generated columns
  * (`delta.generationExpression`). Foreign tables are hand-built logs,
  * matching the reference suite's fixture style
  * (`tests/test_delta_checkpoint.py:10-23`). */
class DeltaProtocolComplianceSuite extends SparkSpec with DeltaFixtures {
  import spark.implicits._

  private def writer = new DeltaWriter(spark, conf)
  private def log = new DeltaLogReader(conf)

  private def schemaLit(s: StructType): String = graft.util.Jsons.render(
    com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
      .textNode(s.json))

  /** Re-commit the table's current metaData with `config` merged in and
    * an optional protocol line — how a foreign writer would flip a table
    * property (e.g. delta.appendOnly) or declare writer features. */
  private def foreignAlter(t: String, config: Map[String, String],
      protocolLine: Option[String] = None,
      schemaOverride: Option[StructType] = None): Unit = {
    val l = log
    val id = l.tableId(t).get
    val schema = schemaOverride.map(_.json)
      .orElse(l.tableSchemaString(t)).get
    val sLit = graft.util.Jsons.render(
      com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
        .textNode(schema))
    val cfg = config.map { case (k, v) => s""""$k": "$v"""" }.mkString(", ")
    val lines = protocolLine.toSeq :+ ci(1L) :+
      (s"""{"metaData": {"id": "$id", "schemaString": $sLit, """ +
        s""""partitionColumns": [], "configuration": {$cfg}}}""")
    writeLog(t, l.latestVersion(t).get + 1, lines: _*)
  }

  test("writes refuse a table whose writer features we cannot honor") {
    withTmpDir { tmp =>
      val w = writer
      val t = s"$tmp/rt"
      w.write(Seq((1L, "a")).toDF("id", "s"), t, DeltaWriteMode.Append)
      foreignAlter(t, Map.empty, Some(
        """{"protocol": {"minReaderVersion": 1, "minWriterVersion": 7, """ +
          """"writerFeatures": ["rowTracking"]}}"""))
      val e = intercept[Exception](
        w.write(Seq((2L, "b")).toDF("id", "s"), t, DeltaWriteMode.Append))
      assert(e.getMessage.contains("rowTracking"),
        s"expected the writer-capability refusal, got: ${e.getMessage}")
      // reading stays fine — rowTracking is writer-only
      assert(w.read(t).count() === 1)
      // a future writer version refuses wholesale
      val t2 = s"$tmp/v8"
      w.write(Seq((1L, "a")).toDF("id", "s"), t2, DeltaWriteMode.Append)
      foreignAlter(t2, Map.empty, Some(
        """{"protocol": {"minReaderVersion": 1, "minWriterVersion": 8}}"""))
      val e2 = intercept[Exception](
        w.write(Seq((2L, "b")).toDF("id", "s"), t2, DeltaWriteMode.Append))
      assert(e2.getMessage.contains("minWriterVersion=8"))
    }
  }

  test("identityColumns gate on the schema, not just the feature flag") {
    withTmpDir { tmp =>
      val w = writer
      // the feature WITHOUT an identity column in the schema is harmless
      val t = s"$tmp/idle"
      w.write(Seq((1L, "a")).toDF("id", "s"), t, DeltaWriteMode.Append)
      foreignAlter(t, Map.empty, Some(
        """{"protocol": {"minReaderVersion": 1, "minWriterVersion": 7, """ +
          """"writerFeatures": ["identityColumns"]}}"""))
      w.write(Seq((2L, "b")).toDF("id", "s"), t, DeltaWriteMode.Append)
      assert(w.read(t).count() === 2)
      // a LIVE identity column refuses: appends must maintain the high
      // watermark, which this engine does not implement
      val t2 = s"$tmp/live"
      w.write(Seq((1L, "a")).toDF("id", "s"), t2, DeltaWriteMode.Append)
      val idSchema = StructType(Seq(
        StructField("id", LongType, true, new MetadataBuilder()
          .putLong("delta.identity.start", 1L)
          .putLong("delta.identity.step", 1L).build()),
        StructField("s", StringType, true)))
      foreignAlter(t2, Map.empty, Some(
        """{"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}}"""),
        schemaOverride = Some(idSchema))
      val e = intercept[Exception](
        w.write(Seq((2L, "b")).toDF("id", "s"), t2, DeltaWriteMode.Append))
      assert(e.getMessage.contains("identity"))
    }
  }

  test("delta.appendOnly forbids removing data, not rewriting it") {
    withTmpDir { tmp =>
      val w = writer
      val t = s"$tmp/ao"
      w.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t, DeltaWriteMode.Append)
      foreignAlter(t, Map("delta.appendOnly" -> "true"))
      // appends keep flowing
      w.write(Seq((3L, "c")).toDF("id", "s"), t, DeltaWriteMode.Append)
      assert(w.read(t).count() === 3)
      // dataChange removes refuse: delete, overwrite
      val e1 = intercept[GraftError](w.deleteWhere(t, col("id") === 1L))
      assert(e1.getMessage.contains("append-only"))
      val e2 = intercept[GraftError](
        w.write(Seq((9L, "z")).toDF("id", "s"), t, DeltaWriteMode.Overwrite))
      assert(e2.getMessage.contains("append-only"))
      // a dataChange=false compaction rewrite stays legal (the spec
      // forbids removing DATA, not reorganizing files)
      w.compact(t, smallFileBytes = 1024L * 1024)
      assert(w.read(t).orderBy("id").as[(Long, String)].collect().toSeq ===
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
    }
  }

  test("CHECK constraints: add validates existing data, writes enforce inline") {
    withTmpDir { tmp =>
      val w = writer
      val t = s"$tmp/ck"
      w.write(Seq((1L, "O"), (2L, "F")).toDF("id", "status"), t,
        DeltaWriteMode.Append)
      // existing data violates -> refuse, nothing committed
      val before = log.latestVersion(t).get
      val bad = intercept[GraftError](
        w.addCheckConstraint(t, "status_domain", "status IN ('O')"))
      assert(bad.getMessage.contains("status_domain") &&
        bad.getMessage.contains("existing data"))
      assert(log.latestVersion(t).get === before)
      // a valid constraint commits and raises the protocol floor
      val v = w.addCheckConstraint(t, "status_domain", "status IN ('O','F','P')")
      val p = log.resolveProtocol(t, v).get
      assert(p.minWriterVersion >= 3)
      // conforming appends pass
      w.write(Seq((3L, "P")).toDF("id", "status"), t, DeltaWriteMode.Append)
      // a violating row fails the WRITE JOB, names the constraint, and
      // leaves the table untouched (no commit — orphaned parts only)
      val atV = log.latestVersion(t).get
      val e = intercept[Exception](
        w.write(Seq((4L, "X")).toDF("id", "status"), t, DeltaWriteMode.Append))
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("status_domain"), s"constraint name absent: $msg")
      assert(log.latestVersion(t).get === atV)
      assert(w.read(t).count() === 3)
      // NULL satisfies (SQL CHECK semantics)
      w.write(Seq((5L, null.asInstanceOf[String])).toDF("id", "status"), t,
        DeltaWriteMode.Append)
      assert(w.read(t).count() === 4)
      // drop -> the same row passes; unknown name refuses loudly
      intercept[GraftError](w.dropCheckConstraint(t, "nope"))
      w.dropCheckConstraint(t, "status_domain")
      w.write(Seq((4L, "X")).toDF("id", "status"), t, DeltaWriteMode.Append)
      assert(w.read(t).count() === 5)
    }
  }

  test("ADD CONSTRAINT preserves v7 feature lists and survives checkpoints") {
    withTmpDir { tmp =>
      val w = writer
      val t = s"$tmp/v7"
      w.write(Seq((1L, "a")).toDF("id", "s"), t, DeltaWriteMode.Append)
      foreignAlter(t, Map.empty, Some(
        """{"protocol": {"minReaderVersion": 1, "minWriterVersion": 7, """ +
          """"writerFeatures": ["domainMetadata"]}}"""))
      val v = w.addCheckConstraint(t, "pos_id", "id > 0")
      val p = log.resolveProtocol(t, v).get
      assert(p.minWriterVersion === 7)
      assert(p.writerFeatures.toSet === Set("domainMetadata", "checkConstraints"))
      // the constraint's configuration rides checkpoints + expiry
      w.checkpoint(t)
      w.expireLogs(t)
      val e = intercept[Exception](
        w.write(Seq((-1L, "z")).toDF("id", "s"), t, DeltaWriteMode.Append))
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("pos_id"))
    }
  }

  test("column invariants from foreign field metadata enforce on append") {
    withTmpDir { tmp =>
      val w = writer
      val t = s"$tmp/inv"
      w.write(Seq((5L, "a")).toDF("id", "s"), t, DeltaWriteMode.Append)
      val invSchema = StructType(Seq(
        StructField("id", LongType, true, new MetadataBuilder()
          .putString("delta.invariants",
            """{"expression":{"expression":"id > 0"}}""").build()),
        StructField("s", StringType, true)))
      foreignAlter(t, Map.empty,
        Some("""{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}"""),
        schemaOverride = Some(invSchema))
      w.write(Seq((6L, "b")).toDF("id", "s"), t, DeltaWriteMode.Append)
      val e = intercept[Exception](
        w.write(Seq((0L, "z")).toDF("id", "s"), t, DeltaWriteMode.Append))
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("invariant") && msg.contains("id > 0"),
        s"expected the invariant refusal, got: $msg")
      assert(w.read(t).count() === 2)
    }
  }

  test("generated columns compute when omitted and validate when provided") {
    withTmpDir { tmp =>
      val w = writer
      val t = s"$tmp/gen"
      w.write(Seq((1L, 2L)).toDF("id", "twice"), t, DeltaWriteMode.Append)
      val genSchema = StructType(Seq(
        StructField("id", LongType, true),
        StructField("twice", LongType, true, new MetadataBuilder()
          .putString("delta.generationExpression", "id * 2").build())))
      foreignAlter(t, Map.empty, Some(
        """{"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}}"""),
        schemaOverride = Some(genSchema))
      // omitted -> computed (null-filling would diverge from every other
      // engine's derivation of the same row)
      w.write(Seq(Tuple1(10L)).toDF("id"), t, DeltaWriteMode.Append)
      assert(w.read(t).filter(col("id") === 10L)
        .select("twice").as[Long].head() === 20L)
      // provided and consistent -> accepted
      w.write(Seq((3L, 6L)).toDF("id", "twice"), t, DeltaWriteMode.Append)
      // provided and DISAGREEING -> refused
      val e = intercept[Exception](
        w.write(Seq((4L, 9L)).toDF("id", "twice"), t, DeltaWriteMode.Append))
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("generated column twice"), s"got: $msg")
      assert(w.read(t).count() === 3)
    }
  }

  test("deletion-vector merges enforce CHECK constraints like every write") {
    withTmpDir { tmp =>
      val w = writer
      val t = s"$tmp/dvck"
      w.write((0L until 10L).map(i => (i, i)).toDF("id", "v").coalesce(1),
        t, DeltaWriteMode.Append)
      w.addCheckConstraint(t, "v_nonneg", "v >= 0")
      val before = log.latestVersion(t).get
      val bad = Seq((3L, -5L, "update_postimage", 1L))
        .toDF("id", "v", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      // both merge shapes refuse the row, name the constraint, commit nothing
      for (strategy <- Seq(MergeStrategy.Auto, MergeStrategy.Rewrite)) {
        val e = intercept[Exception](
          DeltaCdc.applyCdcDelta(spark, bad, t, Seq("id"), strategy = strategy))
        val msg = Option(e.getMessage).getOrElse("") +
          Option(e.getCause).map(_.getMessage).getOrElse("")
        assert(msg.contains("v_nonneg"), s"$strategy: constraint name absent: $msg")
        assert(log.latestVersion(t).get === before, s"$strategy committed")
      }
      assert(w.read(t).filter(col("v") < 0).count() === 0L)
      // a conforming upsert still goes through the DV path
      val ok = Seq((3L, 33L, "update_postimage", 1L))
        .toDF("id", "v", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      DeltaCdc.applyCdcDelta(spark, ok, t, Seq("id"))
      assert(log.readCommit(t, before + 1).adds.exists(_.deletionVector.isDefined))
      assert(w.read(t).filter(col("id") === 3L).select("v").as[Long].collect()
        .toSeq === Seq(33L))
    }
  }

  test("deletion-vector merges compute an omitted generated column") {
    withTmpDir { tmp =>
      val w = writer
      val t = s"$tmp/dvgen"
      w.write((0L until 10L).map(i => (i, i * 2)).toDF("id", "twice").coalesce(1),
        t, DeltaWriteMode.Append)
      val genSchema = StructType(Seq(
        StructField("id", LongType, true),
        StructField("twice", LongType, true, new MetadataBuilder()
          .putString("delta.generationExpression", "id * 2").build())))
      foreignAlter(t, Map.empty, Some(
        """{"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}}"""),
        schemaOverride = Some(genSchema))
      val changes = Seq((4L, "update_postimage", 1L), (40L, "insert", 1L))
        .toDF("id", Cdc.ChangeTypeCol, Cdc.CommitVersionCol)
      DeltaCdc.applyCdcDelta(spark, changes, t, Seq("id"),
        strategy = MergeStrategy.DeletionVectors)
      val v = log.latestVersion(t).get
      assert(log.readCommit(t, v).adds.exists(_.deletionVector.isDefined))
      val got = w.read(t).filter(col("id").isin(4L, 40L)).orderBy("id")
        .select("id", "twice").as[(Long, Long)].collect().toSeq
      assert(got === Seq((4L, 8L), (40L, 80L)),
        "a DV merge must compute the generated column, not null-fill it")
    }
  }

  test("domainMetadata actions survive checkpoint + log expiry") {
    withTmpDir { tmp =>
      val w = writer
      val t = s"$tmp/dm"
      w.write(Seq((1L, "a")).toDF("id", "s"), t, DeltaWriteMode.Append)
      val l = log
      // a foreign writer's domain state: one live, one later tombstoned
      writeLog(t, l.latestVersion(t).get + 1, ci(1L),
        """{"domainMetadata": {"domain": "delta.clustering", """ +
          """"configuration": "{\"clusteringColumns\":[\"id\"]}", "removed": false}}""",
        """{"domainMetadata": {"domain": "other.domain", """ +
          """"configuration": "{}", "removed": false}}""")
      writeLog(t, l.latestVersion(t).get + 1, ci(2L),
        """{"domainMetadata": {"domain": "other.domain", """ +
          """"configuration": "", "removed": true}}""")
      val live = l.domainMetadataState(t, l.latestVersion(t).get)
      assert(live.map(d => d.domain -> d.removed).toMap ===
        Map("delta.clustering" -> false, "other.domain" -> true))
      // checkpoint, expire every JSON commit, re-read from the parquet:
      // losing the clustering domain would erase delta-spark's state;
      // losing the TOMBSTONE would resurrect other.domain on replay
      w.checkpoint(t)
      w.expireLogs(t)
      val after = l.domainMetadataState(t, l.latestVersion(t).get)
      assert(after.map(d => d.domain -> d.removed).toMap ===
        Map("delta.clustering" -> false, "other.domain" -> true))
      assert(after.find(_.domain == "delta.clustering").get.configurationJson
        .contains("clusteringColumns"))
    }
  }
}
