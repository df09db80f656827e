package graft.spark

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.api.Collection
import graft.meta.CollectionMeta

/** Branch refs + write-audit-publish (Iceberg branch / `spark.wap.branch`
  * analog): writes routed to a branch commit manifests main readers never
  * see; `VERSION AS OF '<branch>'` audits the staged snapshot; fast_forward
  * publishes it as one atomic main commit iff main has not moved. */
class BranchSpec extends SparkSuite {
  import spark.implicits._

  private lazy val warehouse = {
    val w = Files.createTempDirectory("graft_branch_wh").toString
    spark.conf.set("spark.sql.catalog.brcat", classOf[HadroCatalog].getName)
    spark.conf.set("spark.sql.catalog.brcat.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS brcat.db")
    w
  }

  test("WAP cycle via SQL: stage on a branch, audit, fast-forward, repeat") {
    warehouse
    spark.sql("CREATE TABLE brcat.db.wap (id BIGINT, v STRING) USING hadro")
    spark.sql("INSERT INTO brcat.db.wap VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val mainV = Collection(spark, s"$warehouse/db/wap").version

    spark.sql("CALL brcat.system.create_branch('db.wap', 'audit', -1)")
    spark.conf.set("spark.hadro.writeBranch", "audit")
    try {
      spark.sql("INSERT INTO brcat.db.wap VALUES (4, 'd'), (5, 'e')")
    } finally spark.conf.unset("spark.hadro.writeBranch")

    // main readers see nothing staged; the branch read sees everything
    assert(spark.sql("SELECT COUNT(*) FROM brcat.db.wap").head().getLong(0) == 3)
    assert(Collection(spark, s"$warehouse/db/wap").version == mainV,
      "a branch commit must not move the main head")
    assert(spark.sql(
      "SELECT COUNT(*) FROM brcat.db.wap VERSION AS OF 'audit'")
      .head().getLong(0) == 5)
    // history: staged commit visible WITH its branch marker, main rows null
    val hist = spark.sql(
      "SELECT version, branch FROM brcat.db.wap.history ORDER BY version")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(hist.exists(_._2 == "audit") && hist.count(_._2 == null) >= 1)
    // refs table: kind distinguishes branch heads from tags
    val refs = spark.sql(
      "SELECT tag, kind FROM brcat.db.wap.refs ORDER BY tag").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(refs("audit") == "branch")

    // publish: one atomic main commit carrying the staged snapshot
    val pub = spark.sql("CALL brcat.system.fast_forward('db.wap', 'audit')")
      .head().getLong(1)
    assert(spark.sql("SELECT COUNT(*) FROM brcat.db.wap").head().getLong(0) == 5)
    assert(Collection(spark, s"$warehouse/db/wap").version == pub)

    // the cycle continues: a second staged batch publishes off the new base
    spark.conf.set("spark.hadro.writeBranch", "audit")
    try spark.sql("INSERT INTO brcat.db.wap VALUES (6, 'f')")
    finally spark.conf.unset("spark.hadro.writeBranch")
    assert(spark.sql("SELECT COUNT(*) FROM brcat.db.wap").head().getLong(0) == 5)
    spark.sql("CALL brcat.system.fast_forward('db.wap', 'audit')")
    assert(spark.sql("SELECT COUNT(*) FROM brcat.db.wap").head().getLong(0) == 6)
    spark.sql("CALL brcat.system.drop_branch('db.wap', 'audit')")
    spark.sql("DROP TABLE brcat.db.wap")
  }

  test("fast-forward publish moves the head ref: repeat with nothing staged " +
      "is a no-op, even after main moves") {
    warehouse
    spark.sql("CREATE TABLE brcat.db.ffnoop (id BIGINT) USING hadro")
    spark.sql("INSERT INTO brcat.db.ffnoop VALUES (1)")
    spark.sql("CALL brcat.system.create_branch('db.ffnoop', 'stage', -1)")
    val dir = s"$warehouse/db/ffnoop"
    Seq(10L).toDF("id").coalesce(1).write.format("hadro")
      .option("hadro.branch", "stage").mode("append").save(dir)
    val pub = spark.sql("CALL brcat.system.fast_forward('db.ffnoop', 'stage')")
      .head().getLong(1)
    // publish re-forked the branch: head ref == fork base == published
    assert(graft.meta.CollectionMeta.branchHeadVersion(
      java.nio.file.Paths.get(dir), "stage") == pub,
      "publish must move the branch HEAD ref, not only the fork base")
    // nothing newly staged: a second fast_forward publishes nothing (no
    // identical-content main commit, no version churn)
    val v2 = spark.sql("CALL brcat.system.fast_forward('db.ffnoop', 'stage')")
      .head().getLong(1)
    assert(v2 == pub, s"no-op fast_forward republished: $pub -> $v2")
    assert(Collection(spark, dir).version == pub)
    // main moves with nothing staged: still a no-op, NOT a spurious conflict
    spark.sql("INSERT INTO brcat.db.ffnoop VALUES (2)")
    val v3 = spark.sql("CALL brcat.system.fast_forward('db.ffnoop', 'stage')")
      .head().getLong(1)
    assert(spark.sql("SELECT COUNT(*) FROM brcat.db.ffnoop").head().getLong(0) == 3)
    assert(v3 == Collection(spark, dir).version)
    spark.sql("DROP TABLE brcat.db.ffnoop")
  }

  test("fast-forward conflicts when main moved since the fork") {
    warehouse
    spark.sql("CREATE TABLE brcat.db.conf (id BIGINT) USING hadro")
    spark.sql("INSERT INTO brcat.db.conf VALUES (1)")
    spark.sql("CALL brcat.system.create_branch('db.conf', 'stage', -1)")
    val dir = s"$warehouse/db/conf"
    Seq(100L).toDF("id").coalesce(1).write.format("hadro")
      .option("hadro.branch", "stage").mode("append").save(dir)
    // main moves AFTER the fork: the staged snapshot no longer contains it
    spark.sql("INSERT INTO brcat.db.conf VALUES (2)")
    val e = intercept[Exception] {
      spark.sql("CALL brcat.system.fast_forward('db.conf', 'stage')")
    }
    assert(e.getMessage.contains("fast-forward") ||
      e.getCause != null && e.getCause.getMessage.contains("fast-forward"))
    // main unharmed, staged state still auditable
    assert(spark.sql("SELECT COUNT(*) FROM brcat.db.conf").head().getLong(0) == 2)
    assert(spark.sql("SELECT COUNT(*) FROM brcat.db.conf VERSION AS OF 'stage'")
      .head().getLong(0) == 2) // fork row + staged row, no main row 2
    spark.sql("DROP TABLE brcat.db.conf")
  }

  test("branch state survives main maintenance; drop + expiry reclaims it") {
    val path = Files.createTempDirectory("branchgc").resolve("c").toString
    (1L to 10L).toDF("id").coalesce(1)
      .write.format("hadro").mode("overwrite").save(path)
    val c = Collection(spark, path)
    c.createBranch("staged")
    Seq(11L, 12L).toDF("id").coalesce(1).write.format("hadro")
      .option("hadro.branch", "staged").mode("append").save(path)

    // a main truncate + its manifest/file GC must NOT touch staged state
    (21L to 25L).toDF("id").coalesce(1)
      .write.format("hadro").mode("overwrite").save(path)
    c.vacuum()
    val staged = spark.read.format("hadro")
      .option("hadro.versionAsOf", "staged").load(path)
    assert(staged.count() == 12, "staged snapshot must survive main truncate+vacuum")
    assert(spark.read.format("hadro").load(path).count() == 5)

    // audit failed: drop the branch, expire history, sweep orphans —
    // the staged segments' bytes return to the pool
    val dataFiles = () => CollectionMeta.listDir(Paths.get(path))
      .count(_.getFileName.toString.endsWith(".data"))
    val before = dataFiles()
    c.dropBranch("staged")
    c.expireSnapshots(System.currentTimeMillis() + 1000)
    assert(c.removeOrphans() > 0,
      "dropped-branch segment files must be reclaimable")
    assert(dataFiles() < before)
    assert(spark.read.format("hadro").load(path).count() == 5)
    intercept[Exception] {
      spark.read.format("hadro").option("hadro.versionAsOf", "staged")
        .load(path).count()
    }
  }

  test("streaming epochs stage on a branch: WAP audit-publish, exactly-once " +
      "epoch replay declined across the publish") {
    val path = Files.createTempDirectory("brstream").resolve("c").toString
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    src.limit(2).coalesce(1).write.format("hadro").mode("append").save(path)
    val c = Collection(spark, path)
    val mainV = c.version
    c.createBranch("ingest")

    def epochSegment(name: String): graft.meta.SegmentInfo = {
      val w = new graft.format.SegmentWriter(
        Paths.get(path).resolve(name), src.schema,
        graft.format.Consistency.Relaxed)
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(src.schema)
      src.collect().foreach(r => w.append(
        conv(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
      w.close()
    }
    val sink = new HadroStreamingWrite(Paths.get(path), src.schema,
      graft.format.Consistency.Relaxed, mutating = false, keyField = None,
      splitBytes = graft.format.SegmentWriter.DefaultSplitBytes,
      queryId = "q-br", branch = Some("ingest"))
    // epoch 1 stages on the branch: main readers see nothing
    sink.commit(1L, Array(HadroCommitMessage(Seq(epochSegment("data-e1.data")))))
    assert(Collection(spark, path).version == mainV,
      "a staged epoch must not move the main head")
    assert(spark.read.format("hadro").load(path).count() == 2L)
    val headV = graft.meta.CollectionMeta.branchHeadVersion(Paths.get(path), "ingest")
    assert(spark.read.format("hadro")
      .option("hadro.versionAsOf", headV.toString).load(path)
      .count() == 2L + src.count(), "the branch audit sees the staged epoch")
    // publish
    val pub = c.fastForward("ingest")
    assert(spark.read.format("hadro").load(path).count() == 2L + src.count())
    // zombie replay of epoch 1 AFTER the publish: the published manifest
    // carries the streamEpochs bookkeeping, so the replay is declined and
    // its duplicate file dropped
    sink.commit(1L, Array(HadroCommitMessage(Seq(epochSegment("data-e1b.data")))))
    assert(Collection(spark, path).version == pub, "replay must not commit")
    assert(!Files.exists(Paths.get(path).resolve("data-e1b.data")))
    assert(graft.meta.CollectionMeta.branchHeadVersion(Paths.get(path), "ingest") == pub)
    // the NEXT epoch stages on the re-forked branch and publishes clean
    sink.commit(2L, Array(HadroCommitMessage(Seq(epochSegment("data-e2.data")))))
    assert(Collection(spark, path).version == pub)
    c.fastForward("ingest")
    assert(spark.read.format("hadro").load(path).count() == 2L + 2 * src.count())
    // an unknown branch fails at stream START with the branch list
    val e = intercept[Exception] {
      new HadroStreamingWrite(Paths.get(path), src.schema,
        graft.format.Consistency.Relaxed, mutating = false, keyField = None,
        splitBytes = graft.format.SegmentWriter.DefaultSplitBytes,
        queryId = "q-x", branch = Some("nope"))
    }
    assert(e.getMessage.contains("ingest"), e.getMessage)
    c.dropBranch("ingest")
  }

  test("branch writes are append-shaped only (batch rewrites refuse); names guard") {
    val path = Files.createTempDirectory("branchguard").resolve("c").toString
    (1L to 3L).toDF("id").coalesce(1)
      .write.format("hadro").mode("overwrite").save(path)
    val c = Collection(spark, path)
    c.createBranch("b1")
    // overwrite to a branch: refused (no staged meaning)
    val e1 = intercept[Exception] {
      Seq(9L).toDF("id").write.format("hadro")
        .option("hadro.branch", "b1").mode("overwrite").save(path)
    }
    assert(e1.getMessage.contains("append-shaped"))
    // tag/branch namespace is shared, both directions
    val e2 = intercept[Exception] { c.createTag("b1") }
    assert(e2.getMessage.contains("branch"))
    c.createTag("t1")
    val e3 = intercept[Exception] { c.createBranch("t1") }
    assert(e3.getMessage.contains("tag"))
    // dropTag must not silently destroy a branch head
    val e4 = intercept[Exception] { c.dropTag("b1") }
    assert(e4.getMessage.contains("dropBranch") || e4.getMessage.contains("drop_branch"))
    assert(c.branches.keySet == Set("b1"))
    // upsert-shaped writes ARE append-shaped: staged CDC merge works
    Seq((1L, "x")).toDF("id", "v")
    c.dropBranch("b1")
    assert(c.branches.isEmpty)
  }

  test("rebase publishes staged appends after main moved; re-forks; " +
      "no double publish; LWW places staged rows newest") {
    warehouse
    spark.sql("""CREATE TABLE brcat.db.rb (id BIGINT, v STRING) USING hadro
      TBLPROPERTIES ('key' = 'id')""")
    spark.sql("INSERT INTO brcat.db.rb VALUES (1, 'a'), (2, 'b')")
    spark.sql("CALL brcat.system.create_branch('db.rb', 'stage', -1)")
    val dir = s"$warehouse/db/rb"
    // staged: a new row AND an upsert of id=2
    Seq((3L, "staged"), (2L, "staged-wins")).toDF("id", "v").coalesce(1)
      .write.format("hadro").option("hadro.branch", "stage")
      .option("hadro.key", "id").option("hadro.upsert", "true")
      .mode("append").save(dir)
    // main moves after the fork: fast_forward must refuse, rebase must work
    spark.sql("INSERT INTO brcat.db.rb VALUES (10, 'main-concurrent')")
    intercept[Exception] {
      spark.sql("CALL brcat.system.fast_forward('db.rb', 'stage')")
    }
    val pub = spark.sql("CALL brcat.system.rebase('db.rb', 'stage')")
      .head().getLong(1)
    val c = Collection(spark, dir)
    // the RESOLVED view (where keyed LWW lives): staged upsert of id=2
    // ranks newest because rebase re-numbers staged ordinals after main's
    val rows = c.toDF().orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "staged-wins"), (3L, "staged"),
      (10L, "main-concurrent")), rows.mkString(","))
    // the raw SQL log scan carries both id=2 versions, shadowed-then-live
    assert(spark.sql("SELECT COUNT(*) FROM brcat.db.rb").head().getLong(0) == 5)
    assert(c.version == pub)
    // re-fork: head and base both at the published version
    assert(c.branches("stage") == ((pub, pub)))
    // a second rebase with nothing newly staged publishes nothing
    val pub2 = spark.sql("CALL brcat.system.rebase('db.rb', 'stage')")
      .head().getLong(1)
    assert(pub2 == pub && c.toDF().count() == 4)
    // and the NEXT cycle (stage -> fast_forward) is consistent again
    Seq((4L, "later")).toDF("id", "v").coalesce(1).write.format("hadro")
      .option("hadro.branch", "stage").mode("append").save(dir)
    spark.sql("CALL brcat.system.fast_forward('db.rb', 'stage')")
    assert(c.toDF().count() == 5)
    spark.sql("DROP TABLE brcat.db.rb")
  }

  test("rebase fails fast when the fork-base manifest aged out of retention") {
    val path = Files.createTempDirectory("branchage").resolve("c").toString
    (1L to 3L).toDF("id").coalesce(1)
      .write.format("hadro").mode("overwrite").save(path)
    val c = Collection(spark, path)
    c.createBranch("old")
    Seq(50L).toDF("id").coalesce(1).write.format("hadro")
      .option("hadro.branch", "old").mode("append").save(path)
    // age the fork base out: KeepVersions+2 main commits
    (1 to 18).foreach { i =>
      Seq(100L + i).toDF("id").coalesce(1)
        .write.format("hadro").mode("append").save(path)
    }
    val e = intercept[IllegalStateException] { c.rebase("old") }
    assert(e.getMessage.contains("aged out"), e.getMessage)
    // staged state still auditable (head is pinned) — drop is the way out
    assert(spark.read.format("hadro")
      .option("hadro.versionAsOf", "old").load(path).count() == 4)
    c.dropBranch("old")
  }

  test("heavy branch staging never GCs the main head (shared version " +
      "space inflation)") {
    underEachFileIO { io =>
      val path = Files.createTempDirectory(s"branchflood_$io").resolve("c").toString
      (1L to 7L).toDF("id").coalesce(1)
        .write.format("hadro").mode("overwrite").save(path)
      val c = Collection(spark, path)
      c.createBranch("flood")
      // KeepVersions + several staged commits: the newest version races far
      // past the main head — count-based ageout must still keep main alive
      (1 to CollectionMeta.KeepVersions + 4).foreach { i =>
        Seq(1000L + i).toDF("id").coalesce(1).write.format("hadro")
          .option("hadro.branch", "flood").mode("append").save(path)
      }
      assert(spark.read.format("hadro").load(path).count() == 7,
        s"$io: main head manifest must survive branch-version inflation")
      assert(c.version > 0, s"$io: main line must not reset to the empty manifest")
      // and the staged line is intact too
      assert(spark.read.format("hadro")
        .option("hadro.versionAsOf", "flood").load(path).count() ==
        7 + CollectionMeta.KeepVersions + 4)
      c.dropBranch("flood")
    }
  }

  test("concurrent ref mutations never lose a pin (tags vs branch moves)") {
    val path = Files.createTempDirectory("refrace").resolve("c").toString
    (1L to 5L).toDF("id").coalesce(1)
      .write.format("hadro").mode("overwrite").save(path)
    val c = Collection(spark, path)
    c.createBranch("mv")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      // 8 tag creations racing 4 branch-head moves: every pin must land
      val tags = (1 to 8).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit = c.createTag(s"pin_$i")
        })
      }
      val moves = (1 to 4).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit =
            Seq(100L * i).toDF("id").coalesce(1).write.format("hadro")
              .option("hadro.branch", "mv").mode("append").save(path)
        })
      }
      (tags ++ moves).foreach(_.get())
    } finally pool.shutdown()
    val refs = CollectionMeta.readRefs(java.nio.file.Paths.get(path))
    (1 to 8).foreach(i => assert(refs.contains(s"pin_$i"),
      s"lost tag pin_$i under concurrent ref writes: ${refs.keys.toSeq.sorted}"))
    assert(refs.contains("mv"))
    assert(spark.read.format("hadro")
      .option("hadro.versionAsOf", "mv").load(path).count() == 9,
      "all four branch-head moves must have landed")
  }

  test("concurrent branch appends serialize; main appends interleave safely") {
    val path = Files.createTempDirectory("branchconc").resolve("c").toString
    (1L to 4L).toDF("id").coalesce(1)
      .write.format("hadro").mode("overwrite").save(path)
    val c = Collection(spark, path)
    c.createBranch("load")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      val tasks = (1 to 6).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val df = Seq(100L * i).toDF("id").coalesce(1)
            if (i % 2 == 0)
              df.write.format("hadro").option("hadro.branch", "load")
                .mode("append").save(path)
            else df.write.format("hadro").mode("append").save(path)
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    // no lost updates on either line
    assert(spark.read.format("hadro").load(path).count() == 4 + 3)
    assert(spark.read.format("hadro")
      .option("hadro.versionAsOf", "load").load(path).count() == 4 + 3)
    // publish conflicts (main moved) — documented resolution is re-fork
    intercept[Exception] { c.fastForward("load") }
  }
}
