package graft.api

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.meta.CollectionMeta
import graft.spark.HadroCatalog

/** [[IncrementalRollup]]'s exactly-once consumer protocol: the applied
  * window's end version rides the MERGE's own manifest commit
  * (streamEpochs, the streaming sink's bookkeeping reused), so a crash
  * between MERGE and tag move cannot double-apply a window — and
  * bootstrap's baseline is the RESOLVED snapshot, not the raw log. */
class IncrementalRollupSpec extends SparkSuite {
  import spark.implicits._

  private def freshCatalog(name: String): String = {
    val wh = Files.createTempDirectory(s"${name}_wh").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[HadroCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    wh
  }

  private def rollupRows(aggDir: String): Seq[(String, Long, Double)] =
    Collection(spark, aggDir).toDF()
      .select($"g", $"n", $"sv".cast("double"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq

  test("bootstrap of a KEYED fact with upsert/tombstone history aggregates " +
      "the resolved snapshot, not the raw log") {
    val wh = freshCatalog("irb")
    try {
      val factDir = Paths.get(wh, "db", "f").toString
      val aggDir = Paths.get(wh, "db", "agg").toString
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "b", 40.0))
        .toDF("k", "g", "v")
        .write.format("hadro").mode("overwrite")
        .option("hadro.key", "k").save(factDir)
      val fact = Collection(spark, factDir)
      // history BEFORE bootstrap: shadowed versions + a tombstoned key —
      // a raw versionAsOf scan would see k=1 twice and k=4 alive
      fact.set(Seq((1L, "a", 15.0)).toDF("k", "g", "v"))
      fact.merge(Seq((4L, "b", 40.0, true)).toDF("k", "g", "v", "d"), $"d")
      IncrementalRollup.bootstrap(spark, factDir, "irb_cursor", aggDir,
        "g", Seq("v" -> "sv"))
      assert(rollupRows(aggDir) == Seq(("a", 2L, 35.0), ("b", 1L, 30.0)),
        rollupRows(aggDir).toString)
      // and the maintained loop continues correctly from that baseline
      fact.set(Seq((5L, "b", 5.0)).toDF("k", "g", "v"))
      IncrementalRollup.cycleKeyed(spark, factDir, "irb_cursor",
        "irb.db.agg", "g", Seq("v" -> "sv"))
      assert(rollupRows(aggDir) == Seq(("a", 2L, 35.0), ("b", 2L, 35.0)),
        rollupRows(aggDir).toString)
    } finally {
      spark.conf.unset("spark.sql.catalog.irb.warehouse")
      spark.conf.unset("spark.sql.catalog.irb")
    }
  }

  test("a window is applied exactly once: replaying a cycle whose tag move " +
      "was lost (crash after MERGE) is a no-op") {
    underEachFileIO { fio =>
    info(s"FileIO impl: $fio")
    val cat = s"ir1$fio" // catalog instances cache per name
    val wh = freshCatalog(cat)
    try {
      val factDir = Paths.get(wh, "db", "f").toString
      val aggDir = Paths.get(wh, "db", "agg").toString
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "g", "v")
        .write.format("hadro").mode("overwrite").save(factDir)
      IncrementalRollup.bootstrap(spark, factDir, "ir1_cursor", aggDir,
        "g", Seq("v" -> "sv"))
      val fact = Collection(spark, factDir)
      val floor = fact.tags("ir1_cursor")

      Seq((3L, "a", 10.0), (4L, "c", 4.0)).toDF("id", "g", "v")
        .write.format("hadro").mode("append").save(factDir)
      val head = IncrementalRollup.cycle(spark, factDir, "ir1_cursor",
        s"$cat.db.agg", "g", Seq("v" -> "sv"))
      val applied = rollupRows(aggDir)
      assert(applied == Seq(("a", 2L, 11.0), ("b", 1L, 2.0), ("c", 1L, 4.0)),
        applied.toString)
      // the MERGE commit recorded the applied window atomically
      assert(CollectionMeta.currentManifest(Paths.get(aggDir))
        .streamEpochs.get("hadro-rollup:ir1_cursor").contains(head))

      // simulate the crash: the MERGE committed but the tag move was
      // lost — rewind the cursor tag to the pre-window floor and retry
      fact.createTag("ir1_cursor", floor)
      val head2 = IncrementalRollup.cycle(spark, factDir, "ir1_cursor",
        s"$cat.db.agg", "g", Seq("v" -> "sv"))
      assert(head2 == head)
      assert(rollupRows(aggDir) == applied,
        s"retry double-applied the window: ${rollupRows(aggDir)}")
      assert(fact.tags("ir1_cursor") == head, "retry must advance the tag")

      // and new data after the recovered cursor still flows
      Seq((5L, "b", 20.0)).toDF("id", "g", "v")
        .write.format("hadro").mode("append").save(factDir)
      IncrementalRollup.cycle(spark, factDir, "ir1_cursor",
        s"$cat.db.agg", "g", Seq("v" -> "sv"))
      assert(rollupRows(aggDir) ==
        Seq(("a", 2L, 11.0), ("b", 2L, 22.0), ("c", 1L, 4.0)),
        rollupRows(aggDir).toString)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
    }
  }

  test("keyed crash-retry: cycleKeyed replaying a lost tag move is a no-op " +
      "and a re-bootstrap lowers the applied record to its new baseline") {
    underEachFileIO { fio =>
    info(s"FileIO impl: $fio")
    val cat = s"ir2$fio" // catalog instances cache per name
    val wh = freshCatalog(cat)
    try {
      val factDir = Paths.get(wh, "db", "f").toString
      val aggDir = Paths.get(wh, "db", "agg").toString
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "b", 3.0))
        .toDF("k", "g", "v")
        .write.format("hadro").mode("overwrite")
        .option("hadro.key", "k").save(factDir)
      IncrementalRollup.bootstrap(spark, factDir, "ir2_cursor", aggDir,
        "g", Seq("v" -> "sv"))
      val fact = Collection(spark, factDir)
      val floor = fact.tags("ir2_cursor")
      fact.set(Seq((1L, "a", 9.0), (4L, "c", 4.0)).toDF("k", "g", "v"))
      fact.merge(Seq((2L, "b", 2.0, true)).toDF("k", "g", "v", "d"), $"d")
      IncrementalRollup.cycleKeyed(spark, factDir, "ir2_cursor",
        s"$cat.db.agg", "g", Seq("v" -> "sv"))
      val applied = rollupRows(aggDir)
      assert(applied == Seq(("a", 1L, 9.0), ("b", 1L, 3.0), ("c", 1L, 4.0)),
        applied.toString)
      fact.createTag("ir2_cursor", floor) // lost tag move
      IncrementalRollup.cycleKeyed(spark, factDir, "ir2_cursor",
        s"$cat.db.agg", "g", Seq("v" -> "sv"))
      assert(rollupRows(aggDir) == applied,
        s"keyed retry double-applied: ${rollupRows(aggDir)}")

      // re-bootstrap: the fresh baseline must override the old applied
      // record (force-set, not max), so the next window still applies
      IncrementalRollup.bootstrap(spark, factDir, "ir2_cursor", aggDir,
        "g", Seq("v" -> "sv"))
      fact.set(Seq((5L, "a", 50.0)).toDF("k", "g", "v"))
      IncrementalRollup.cycleKeyed(spark, factDir, "ir2_cursor",
        s"$cat.db.agg", "g", Seq("v" -> "sv"))
      assert(rollupRows(aggDir) ==
        Seq(("a", 2L, 59.0), ("b", 1L, 3.0), ("c", 1L, 4.0)),
        rollupRows(aggDir).toString)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
    }
  }

  test("cycleRefresh partially recomputes only touched groups: deleted " +
      "extremes recover, emptied groups delete, new groups insert, " +
      "and a replayed window is a no-op") {
    underEachFileIO { fio =>
    info(s"FileIO impl: $fio")
    val cat = s"ir4$fio" // catalog instances cache per name
    val wh = freshCatalog(cat)
    try {
      val factDir = Paths.get(wh, "db", "f").toString
      val aggDir = Paths.get(wh, "db", "mm").toString
      val aggs = Seq(("min", "v", "min_v"), ("max", "v", "max_v"))
      Seq((1L, "A", 5.0), (2L, "A", 50.0), (3L, "B", 7.0), (4L, "B", 70.0),
        (5L, "C", 9.0)).toDF("id", "g", "v")
        .write.format("hadro").mode("overwrite").save(factDir)
      IncrementalRollup.bootstrapRefresh(spark, factDir, "ir4_cursor",
        aggDir, "g", aggs)
      def rows(): Seq[(String, Long, Double, Double)] =
        Collection(spark, aggDir).toDF()
          .select($"g", $"n", $"min_v", $"max_v")
          .as[(String, Long, Double, Double)].collect().sortBy(_._1).toSeq
      assert(rows() == Seq(("A", 2L, 5.0, 50.0), ("B", 2L, 7.0, 70.0),
        ("C", 1L, 9.0, 9.0)), rows().toString)

      val fact = Collection(spark, factDir)
      spark.conf.set("spark.hadro.delete.mode", "dv")
      try {
        // touch A (delete its MAX — unfoldable), empty C entirely, and
        // introduce D; B is untouched and must not be re-read or merged
        Seq((6L, "A", 20.0), (7L, "D", 1.0)).toDF("id", "g", "v")
          .write.format("hadro").mode("append").save(factDir)
        spark.sql(s"DELETE FROM $cat.db.f WHERE v = 50.0 OR g = 'C'")
        val floor = fact.tags("ir4_cursor")
        val head = IncrementalRollup.cycleRefresh(spark, factDir,
          "ir4_cursor", s"$cat.db.mm", "g", aggs)
        assert(rows() == Seq(("A", 2L, 5.0, 20.0), ("B", 2L, 7.0, 70.0),
          ("D", 1L, 1.0, 1.0)), rows().toString)
        // the applied version rode the MERGE commit
        assert(CollectionMeta.currentManifest(Paths.get(aggDir))
          .streamEpochs.get("hadro-rollup:ir4_cursor").contains(head))
        // crash simulation: rewind the tag, retry — skipped, tag re-moves
        fact.createTag("ir4_cursor", floor)
        IncrementalRollup.cycleRefresh(spark, factDir, "ir4_cursor",
          s"$cat.db.mm", "g", aggs)
        assert(rows() == Seq(("A", 2L, 5.0, 20.0), ("B", 2L, 7.0, 70.0),
          ("D", 1L, 1.0, 1.0)), rows().toString)
        assert(fact.tags("ir4_cursor") == head)
      } finally spark.conf.unset("spark.hadro.delete.mode")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
    }
  }

  test("streaming twin: a foreachBatch epoch replayed after restart from " +
      "an uncommitted checkpoint does not double-apply the window") {
    val wh = freshCatalog("ir3")
    try {
      val factDir = Paths.get(wh, "db", "f").toString
      val aggDir = Paths.get(wh, "db", "agg").toString
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "g", "v")
        .write.format("hadro").mode("overwrite").save(factDir)
      IncrementalRollup.bootstrap(spark, factDir, "ir3_cursor", aggDir,
        "g", Seq("v" -> "sv"))
      val ckpt = Files.createTempDirectory("ir3_ckpt").toString
      def startQ() = spark.readStream.format("hadro")
        .option("hadro.changefeed", "full").load(factDir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          IncrementalRollup.cycle(spark, factDir, "ir3_cursor",
            "ir3.db.agg", "g", Seq("v" -> "sv"))
          ()
        }.start()
      val q = startQ()
      q.processAllAvailable()
      Seq((3L, "a", 10.0), (4L, "c", 4.0)).toDF("id", "g", "v")
        .write.format("hadro").mode("append").save(factDir)
      q.processAllAvailable()
      q.stop()
      q.awaitTermination() // fully release the checkpoint before restart
      val applied = rollupRows(aggDir)
      assert(applied == Seq(("a", 2L, 11.0), ("b", 1L, 2.0), ("c", 1L, 4.0)),
        applied.toString)
      // simulate the crash-before-checkpoint-commit: drop the newest
      // commit marker so the restart RE-EXECUTES the last micro-batch —
      // foreachBatch fires again for an already-applied window
      val commitsDir = Paths.get(ckpt, "commits")
      val latest = Files.list(commitsDir).iterator()
      val names = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
      latest.forEachRemaining(p =>
        if (!p.getFileName.toString.startsWith(".")) names += p)
      val victim = names.maxBy(_.getFileName.toString.toLong)
      Files.delete(victim)
      // Hadoop's checksummed local FS keeps a hidden .N.crc sibling; a
      // stale one makes the replayed batch's commit-marker rewrite fail
      // (its CRC rename collides) — a real HDFS/S3 checkpoint has no
      // such sibling, so drop it with the marker
      Files.deleteIfExists(
        victim.resolveSibling("." + victim.getFileName.toString + ".crc"))
      val q2 = startQ()
      q2.processAllAvailable()
      q2.stop()
      assert(rollupRows(aggDir) == applied,
        s"replayed epoch double-applied: ${rollupRows(aggDir)}")
    } finally {
      spark.conf.unset("spark.sql.catalog.ir3.warehouse")
      spark.conf.unset("spark.sql.catalog.ir3")
    }
  }

  test("NULL groups are LOUD, never silent: null keys are rejected at the " +
      "keyed write, a null-group bootstrap names the fix, and cycleRefresh " +
      "either errors clearly or nets out — no silent drop or corruption") {
    val wh = freshCatalog("ir5")
    try {
      val aggs = Seq(("min", "v", "min_v"), ("max", "v", "max_v"))
      // (a) the storage contract: a NULL key is unstorable in a keyed
      // collection (it is the Spark row id, reported non-nullable — a
      // stored null would NPE every later read inside codegen)
      val kDir = Paths.get(wh, "db", "k").toString
      val e0 = intercept[org.apache.spark.SparkException] {
        Seq((null.asInstanceOf[String], 1.0)).toDF("g", "v")
          .write.format("hadro").mode("overwrite")
          .option("hadro.key", "g").save(kDir)
      }
      assert(e0.getMessage.contains("NULL in key field") ||
        Option(e0.getCause).exists(_.getMessage.contains("NULL in key field")),
        s"null-key write must name the contract: ${e0.getMessage}")

      // (b) bootstrap over a fact WITH null groups fails loudly (the
      // rollup keys on the group), instead of storing an unreadable row
      val factDir = Paths.get(wh, "db", "f").toString
      val aggDir = Paths.get(wh, "db", "mm").toString
      Seq((1L, null.asInstanceOf[String], 5.0), (3L, "B", 7.0))
        .toDF("id", "g", "v")
        .write.format("hadro").mode("overwrite").save(factDir)
      val e1 = intercept[Exception] {
        IncrementalRollup.bootstrapRefresh(spark, factDir, "ir5_cursor",
          aggDir, "g", aggs)
      }
      // loud = either the writer's named contract error, or Spark's own
      // AssertNotNull guard on the reported non-nullable key (the MERGE
      // path inserts it at analysis — it fires before our writer check)
      def mentions(t: Throwable): Boolean =
        t != null && (Option(t.getMessage).exists(m =>
          m.contains("NULL in key field") ||
            m.contains("NOT_NULL_ASSERT_VIOLATION")) ||
          mentions(t.getCause))
      assert(mentions(e1), s"bootstrap must surface the null-key error: $e1")

      // (c) a NULL group that nets out IN-WINDOW is a clean no-op for
      // cycleRefresh (null-safe restriction, nothing to insert), and
      // non-null groups still refresh correctly around it
      val fact2 = Paths.get(wh, "db", "f2").toString
      val agg2 = Paths.get(wh, "db", "mm2").toString
      Seq((1L, "A", 5.0), (2L, "A", 50.0), (3L, "B", 7.0))
        .toDF("id", "g", "v")
        .write.format("hadro").mode("overwrite").save(fact2)
      IncrementalRollup.bootstrapRefresh(spark, fact2, "ir5_cursor",
        agg2, "g", aggs)
      spark.conf.set("spark.hadro.delete.mode", "dv")
      try {
        // window: null-group rows appear AND are fully deleted; A loses
        // its max (the unfoldable case)
        Seq((4L, null.asInstanceOf[String], 9.0)).toDF("id", "g", "v")
          .write.format("hadro").mode("append").save(fact2)
        spark.sql("DELETE FROM ir5.db.f2 WHERE v = 50.0 OR g IS NULL")
        IncrementalRollup.cycleRefresh(spark, fact2, "ir5_cursor",
          "ir5.db.mm2", "g", aggs)
        val rows = Collection(spark, agg2).toDF()
          .select($"g", $"n", $"min_v", $"max_v")
          .as[(String, Long, Double, Double)].collect().sortBy(_._1).toSeq
        assert(rows == Seq(("A", 1L, 5.0, 5.0), ("B", 1L, 7.0, 7.0)),
          rows.toString)
        // (d) a NULL group with SURVIVORS fails the cycle loudly at the
        // MERGE insert — never a silent drop
        Seq((5L, null.asInstanceOf[String], 3.0)).toDF("id", "g", "v")
          .write.format("hadro").mode("append").save(fact2)
        val e2 = intercept[Exception] {
          IncrementalRollup.cycleRefresh(spark, fact2, "ir5_cursor",
            "ir5.db.mm2", "g", aggs)
        }
        assert(mentions(e2), s"live NULL group must fail loudly: $e2")
      } finally spark.conf.unset("spark.hadro.delete.mode")
    } finally {
      spark.conf.unset("spark.sql.catalog.ir5.warehouse")
      spark.conf.unset("spark.sql.catalog.ir5")
    }
  }

  test("keyed cycleRefresh: group-moving upserts refresh their OLD group " +
      "(typed pre-images), and the LWW window shuffles only the touched " +
      "groups' key superset — never the table") {
    val w = Files.createTempDirectory("irkr").resolve("c").toString
    // 4000 keys over 16 group-clustered segments with a fat payload so a
    // table-sized shuffle is unmissable in exchange dataSize
    val pad = "x" * 200
    val base = (0L until 4000L).map(i => (i, f"s${i % 16}%02d", i.toDouble, pad))
      .toDF("k", "g", "v", "p")
    Collection.create(spark, w,
      base.repartitionByRange(16, col("g")), key = Some("k"))
    val c = Collection(spark, w)
    val v1 = c.version
    // window: new extremes inside s00, plus key 1 MOVING s01 -> s00 —
    // s01's aggregates must refresh from the pre-image side
    c.set(Seq((16L, "s00", 80000.0, pad), (32L, "s00", -5.0, pad),
      (1L, "s00", 1.0, pad)).toDF("k", "g", "v", "p"))
    val out = IncrementalRollup.refreshedFrame(spark, w, v1, c.version,
      "g", Seq(("min", "v", "min_v"), ("max", "v", "max_v")))
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3))).sortBy(_._1).toSeq
    // s00 gained key 1 and the planted extremes; s01 lost key 1 (its
    // old MIN: without the pre-image, s01 would not refresh at all)
    assert(rows.map(_._1) == Seq("s00", "s01"), rows.toString)
    assert(rows(0) == (("s00", 251L, -5.0, 80000.0)), rows(0).toString)
    assert(rows(1) == (("s01", 249L, 17.0, 3985.0)), rows(1).toString)
    // scale: the two touched groups own 500 of 4000 keys; every exchange
    // must stay touched-group-proportional (the table is ~840 KB)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val shuffled = walk(out.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeExec => s.metrics("dataSize").value }
    val tableBytes = 4000L * 210
    assert(shuffled.nonEmpty, "expected at least one exchange to execute")
    assert(shuffled.max < tableBytes / 4,
      s"an exchange carried ${shuffled.max} bytes — table-sized " +
        s"(~$tableBytes), not touched-group-proportional " +
        s"(${shuffled.sorted.reverse})")
  }

  test("a regular-sized keyed refresh keeps its Spark job budget: " +
      "resolvedAsOf(version, touched) and refreshedFrame") {
    val w = Files.createTempDirectory("irjb").resolve("c").toString
    Collection.create(spark, w,
      (0L until 400L).map(i => (i, f"s${i % 4}%02d", i.toDouble))
        .toDF("k", "g", "v").repartitionByRange(4, col("g")),
      key = Some("k"))
    val c = Collection(spark, w)
    val v1 = c.version
    // one window: key 16 gets a new extreme, key 1 moves s01 -> s00
    c.set(Seq((16L, "s00", 8000.0), (1L, "s00", 1.0)).toDF("k", "g", "v"))
    val v2 = c.version
    // the touched keys as callers pass them: a changes-window scan
    val window = ChangeFeed.updateImages(spark, w, v1, v2).select($"k")
    val (resolved, resolveJobs) = countJobs(c.resolvedAsOf(v2, window)
      .select($"k", $"g").as[(Long, String)].collect().sorted.toSeq)
    assert(resolved == Seq((1L, "s00"), (16L, "s00")), resolved.toString)
    val (groups, refreshJobs) = countJobs(IncrementalRollup.refreshedFrame(
      spark, w, v1, v2, "g", Seq(("max", "v", "max_v")))
      .select($"g").as[String].collect().sorted.toSeq)
    assert(groups == Seq("s00", "s01"), groups.toString)
    info(s"jobs: resolvedAsOf $resolveJobs, refreshedFrame $refreshJobs")
    // the counts the eager touched-key checkpoints ran (8, 16); the lazy
    // checkpoint runs 7 and 13. One that added a job would show here
    assert(resolveJobs <= 8 && refreshJobs <= 16,
      s"resolvedAsOf $resolveJobs, refreshedFrame $refreshJobs jobs")
  }

  test("rollup_health counts ONLY genuine protocol breaks: a planted " +
      "off-thread commit with a committing MERGE trips the counter; the " +
      "benign no-op-MERGE-vs-concurrent-commit race does not") {
    val wh = freshCatalog("ir7")
    try {
      val aggDir = Paths.get(wh, "db", "agg")
      Seq(("a", 1L, BigDecimal(1.0))).toDF("g", "n", "sv")
        .write.format("hadro").mode("overwrite").option("hadro.key", "g")
        .save(aggDir.toString)
      val before = IncrementalRollup.protocolBreaks(aggDir)
      assert(spark.sql("CALL ir7.system.rollup_health('db.agg')")
        .head().getLong(0) == before)
      // the planted signature: stamp armed on THIS thread, manifest
      // advanced by a commit on ANOTHER thread (which can neither
      // consume nor publish the stamp), applied-version entry missing
      val pre = CollectionMeta.currentManifest(aggDir).version
      CollectionMeta.registerCommitEpoch(aggDir, "hadro-rollup:ir7_c", 5L)
      try {
        val t = new Thread(() => Seq(("b", 1L, BigDecimal(2.0)))
          .toDF("g", "n", "sv")
          .write.format("hadro").mode("append").save(aggDir.toString))
        t.start(); t.join()
        // benign read of the same signature: this cycle's MERGE was a
        // no-op (nothing to commit), so the foreign commit explains the
        // version move — log-only, counter must NOT move
        IncrementalRollup.assertEpochPublished(aggDir, "ir7_c", pre, 5L,
          expectCommit = false)
        assert(IncrementalRollup.protocolBreaks(aggDir) == before,
          "benign no-op race must not count as a protocol break")
        // genuine break: the MERGE had rows to commit, so the version
        // advance without our entry means OUR commit dropped the stamp
        IncrementalRollup.assertEpochPublished(aggDir, "ir7_c", pre, 5L,
          expectCommit = true)
        assert(IncrementalRollup.protocolBreaks(aggDir) == before + 1,
          "planted off-thread commit must count as a protocol break")
        assert(spark.sql("CALL ir7.system.rollup_health('db.agg')")
          .head().getLong(0) == before + 1,
          "rollup_health must surface the counter")
      } finally CollectionMeta.clearCommitEpoch(aggDir)
      // a healthy full cycle through the public API stays at zero breaks
      val factDir = Paths.get(wh, "db", "f").toString
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "g", "v")
        .write.format("hadro").mode("overwrite").save(factDir)
      val agg2 = Paths.get(wh, "db", "agg2")
      IncrementalRollup.bootstrap(spark, factDir, "ir7_cursor",
        agg2.toString, "g", Seq("v" -> "sv"))
      Seq((3L, "a", 10.0)).toDF("id", "g", "v")
        .write.format("hadro").mode("append").save(factDir)
      IncrementalRollup.cycle(spark, factDir, "ir7_cursor",
        "ir7.db.agg2", "g", Seq("v" -> "sv"))
      assert(IncrementalRollup.protocolBreaks(agg2) == 0L,
        "a healthy cycle tripped the protocol-break counter")
    } finally {
      spark.conf.unset("spark.sql.catalog.ir7.warehouse")
      spark.conf.unset("spark.sql.catalog.ir7")
    }
  }

  test("a commit-epoch stamp binds to the registering thread: a concurrent " +
      "writer's commit neither consumes nor publishes it") {
    underEachFileIO { fio =>
    info(s"FileIO impl: $fio")
    val wh = freshCatalog("ir6")
    try {
      val dir = Paths.get(wh, "db", "t")
      Seq((1L, 1.0)).toDF("id", "v")
        .write.format("hadro").mode("overwrite").save(dir.toString)
      CollectionMeta.registerCommitEpoch(dir, "hadro-rollup:ir6_cursor", 7L)
      try {
        // a foreign commit from ANOTHER thread (a second consumer, a
        // maintenance write) lands between register and this thread's
        // MERGE — it must not carry (or clear) this thread's stamp
        val t = new Thread(() =>
          Seq((2L, 2.0)).toDF("id", "v")
            .write.format("hadro").mode("append").save(dir.toString))
        t.start(); t.join()
        assert(!CollectionMeta.currentManifest(dir)
          .streamEpochs.contains("hadro-rollup:ir6_cursor"),
          "a foreign thread's commit published this consumer's stamp")
        // the registering thread's own next commit publishes it
        Seq((3L, 3.0)).toDF("id", "v")
          .write.format("hadro").mode("append").save(dir.toString)
        assert(CollectionMeta.currentManifest(dir)
          .streamEpochs.get("hadro-rollup:ir6_cursor").contains(7L),
          "the registering thread's commit must publish the stamp")
      } finally CollectionMeta.clearCommitEpoch(dir)
    } finally {
      spark.conf.unset("spark.sql.catalog.ir6.warehouse")
      spark.conf.unset("spark.sql.catalog.ir6")
    }
    }
  }
}
