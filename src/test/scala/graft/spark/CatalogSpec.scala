package graft.spark

import java.nio.file.Files

import graft.SparkSuite

/** SQL-name access to hadro collections via the DSv2 TableCatalog. */
class CatalogSpec extends SparkSuite {
  import spark.implicits._

  private lazy val warehouse = {
    val w = Files.createTempDirectory("graft_wh").toString
    spark.conf.set("spark.sql.catalog.testcat", classOf[HadroCatalog].getName)
    spark.conf.set("spark.sql.catalog.testcat.warehouse", w)
    w
  }

  test("CREATE TABLE / INSERT INTO / SELECT / DROP round-trip via SQL names") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("CREATE TABLE testcat.db.books (title STRING, author STRING) USING hadro")
    spark.sql("INSERT INTO testcat.db.books VALUES ('dune', 'herbert'), ('hamlet', 'shakespeare')")
    val rows = spark.sql("SELECT title, author FROM testcat.db.books ORDER BY title")
      .as[(String, String)].collect()
    assert(rows.toSeq == Seq(("dune", "herbert"), ("hamlet", "shakespeare")))

    // SHOW TABLES sees it; DROP removes it
    assert(spark.sql("SHOW TABLES IN testcat.db").collect().map(_.getString(1)).contains("books"))
    spark.sql("DROP TABLE testcat.db.books")
    assert(!spark.sql("SHOW TABLES IN testcat.db").collect().map(_.getString(1)).contains("books"))
  }

  test("SQL VERSION AS OF / TIMESTAMP AS OF read committed snapshots") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("CREATE TABLE testcat.db.ttsql (id BIGINT, v STRING) USING hadro")
    spark.sql("INSERT INTO testcat.db.ttsql VALUES (1, 'a'), (2, 'b')")
    val v1 = graft.api.Collection(spark, s"$warehouse/db/ttsql").version
    val tsAfterV1 = java.time.Instant.now()
    Thread.sleep(5) // commit stamps are epoch-ms: separate the instants
    spark.sql("INSERT INTO testcat.db.ttsql VALUES (3, 'c')")

    // current read sees both commits; VERSION AS OF pins the first
    assert(spark.sql("SELECT count(*) FROM testcat.db.ttsql").head.getLong(0) == 3)
    assert(spark.sql(s"SELECT count(*) FROM testcat.db.ttsql VERSION AS OF $v1")
      .head.getLong(0) == 2)
    // TIMESTAMP AS OF resolves an instant between the commits to v1
    assert(spark.sql(
      s"SELECT count(*) FROM testcat.db.ttsql TIMESTAMP AS OF '$tsAfterV1'")
      .head.getLong(0) == 2)

    // a GC'd / never-committed version fails fast, not mid-read
    val eTooNew = intercept[Exception](
      spark.sql("SELECT * FROM testcat.db.ttsql VERSION AS OF 999").collect())
    assert(eTooNew.getMessage.contains("not available"))
    // an instant before the first commit has no version to resolve to
    val eTooOld = intercept[Exception](spark.sql(
      "SELECT * FROM testcat.db.ttsql TIMESTAMP AS OF '2000-01-01 00:00:00'").collect())
    assert(eTooOld.getMessage.contains("no version"))
    // snapshots are read-only: the pinned Table refuses a write builder
    // (SQL cannot even express an INSERT with a time-travel clause, so the
    // guard is exercised at the Table API level)
    val cat = spark.sessionState.catalogManager.catalog("testcat")
      .asInstanceOf[HadroCatalog]
    val pinned = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "ttsql"),
      v1.toString).asInstanceOf[HadroTable]
    val eWrite = intercept[IllegalArgumentException](pinned.newWriteBuilder(null))
    assert(eWrite.getMessage.contains("read-only"))
    spark.sql("DROP TABLE testcat.db.ttsql")
  }

  test("CALL embedding_index_build / embedding_probe / sweep_lsh_index " +
      "drive the vector near-dup loop from pure SQL") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    val u = Seq.tabulate(8)(i => (i + 1).toFloat)
    val w = Seq.tabulate(8)(i => (8 - i).toFloat) // cos(u, w) < 0.9
    Seq((1L, u), (2L, u.map(_ * 1.01f)), (3L, w)).toDF("vec_id", "emb")
      .write.format("hadro").option("hadro.key", "vec_id")
      .mode("overwrite").save(s"$warehouse/db/vecs")
    Seq((101L, u.map(_ * 2f))).toDF("vec_id", "emb")
      .write.format("hadro").mode("overwrite").save(s"$warehouse/db/vbatch")
    val idx = s"$warehouse/emb_idx"
    val b = spark.sql(s"""CALL testcat.system.embedding_index_build(
      'db.vecs', 'vec_id', 'emb', '$idx', 8, 4)""").collect()
    assert(b.head.getLong(0) == 3L, b.toSeq.toString)
    // dry-run probe: view registered, index untouched
    spark.sql(s"""CALL testcat.system.embedding_probe(
      'db.vbatch', 'vec_id', 'emb', '$idx', 'emb_pairs', 0.9D, false, '')""")
    val dry = spark.sql("SELECT id_a, id_b FROM emb_pairs ORDER BY id_a")
      .as[(Long, Long)].collect().toSeq
    assert(dry == Seq((1L, 101L), (2L, 101L)), dry.toString)
    // a corpus delete + SQL sweep: the dead side stops pairing
    spark.sql("DELETE FROM testcat.db.vecs WHERE vec_id = 1")
    val sw = spark.sql(s"""CALL testcat.system.sweep_lsh_index(
      '$idx', 'db.vecs')""").collect()
    assert(sw.head.getLong(0) == 1L, sw.toSeq.toString)
    // mutating probe: extends the index for the next batch
    spark.sql(s"""CALL testcat.system.embedding_probe(
      'db.vbatch', 'vec_id', 'emb', '$idx', 'emb_pairs2', 0.9D, true, '')""")
    val ext = spark.sql("SELECT id_a, id_b FROM emb_pairs2 ORDER BY id_a")
      .as[(Long, Long)].collect().toSeq
    assert(ext == Seq((2L, 101L)), ext.toString)
    val again = graft.ops.DedupOps.embeddingIndexProbe(spark,
      Seq((201L, u)).toDF("vec_id", "emb"), "vec_id", "emb", idx,
      extendIndex = false)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().sorted.toSeq
    assert(again == Seq((2L, 201L), (101L, 201L)), again.toString)
    // must_check_table pins ride the SQL verb: a pin asserts candidate
    // recall, not liveness or score — the below-threshold pinned pair
    // (3, 101) still verifies by exact cosine and drops
    Seq((2L, 101L), (3L, 101L)).toDF("id_a", "id_b")
      .write.format("hadro").mode("overwrite").save(s"$warehouse/db/vpins")
    spark.sql(s"""CALL testcat.system.embedding_probe(
      'db.vbatch', 'vec_id', 'emb', '$idx', 'emb_pairs3', 0.9D, false,
      '', '', -1L, 'db.vpins')""")
    val pinned = spark.sql("SELECT id_a, id_b FROM emb_pairs3 ORDER BY id_a")
      .as[(Long, Long)].collect().toSeq
    assert(pinned == Seq((2L, 101L)), pinned.toString)
    spark.sql("DROP TABLE testcat.db.vecs")
    spark.sql("DROP TABLE testcat.db.vbatch")
    spark.sql("DROP TABLE testcat.db.vpins")
  }

  test("CALL components_update / components_view fold pair windows from " +
      "pure SQL") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    val st = s"$warehouse/cc_state"
    Seq((10L, 11L), (20L, 21L)).toDF("a", "b")
      .write.format("hadro").mode("overwrite").save(s"$warehouse/db/w1")
    Seq((11L, 21L)).toDF("a", "b")
      .write.format("hadro").mode("overwrite").save(s"$warehouse/db/w2")
    val r1 = spark.sql(s"""CALL testcat.system.components_update(
      'db.w1', 'a', 'b', '$st')""").collect()
    assert(r1.head.getLong(0) == 4L, r1.toSeq.toString)
    spark.sql(s"""CALL testcat.system.components_update(
      'db.w2', 'a', 'b', '$st')""")
    spark.sql(s"CALL testcat.system.components_view('$st', 'cc_m')")
    val m = spark.sql("SELECT doc_id, cluster FROM cc_m ORDER BY doc_id")
      .as[(Long, Long)].collect().toSeq
    assert(m == Seq((10L, 10L), (11L, 10L), (20L, 10L), (21L, 10L)),
      s"SQL components loop diverged: $m")
    spark.sql("DROP TABLE testcat.db.w1")
    spark.sql("DROP TABLE testcat.db.w2")
  }

  test("CALL components_cycle / sweep_components / keep_list_view drive " +
      "the composed membership loop (cursor-tagged pairs consumer, " +
      "materialized keep-list, physical takedown sweep) from pure SQL") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    val st = s"$warehouse/cc2_state"
    val kp = s"$warehouse/cc2_keep"
    val pairsDir = s"$warehouse/cc2_pairs"
    // a persisted pairs collection accruing commits (the neardup_probe
    // pairsSink shape, written directly): window 1
    Seq((10L, 11L), (20L, 21L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("overwrite").save(pairsDir)
    val c1 = spark.sql(s"""CALL testcat.system.components_cycle(
      '$pairsDir', 'sqlcur', '$st', '$kp')""").collect()
    assert(c1.head.getLong(0) >= 1L, c1.toSeq.toString)
    spark.sql(s"CALL testcat.system.keep_list_view('$kp', 'kl_m0')")
    val kl0 = spark.sql(
      "SELECT cluster, keep_id, n_members FROM kl_m0 ORDER BY cluster")
      .as[(Long, Long, Long)].collect().toSeq
    assert(kl0 == Seq((10L, 10L, 2L), (20L, 20L, 2L)), kl0.toString)
    // window 2 lands as a NEW commit; the tagged cursor folds ONLY it,
    // merging the two clusters — root 20 tombstones out of the keep list
    Seq((11L, 21L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("append").save(pairsDir)
    spark.sql(s"""CALL testcat.system.components_cycle(
      '$pairsDir', 'sqlcur', '$st', '$kp')""")
    spark.sql(s"CALL testcat.system.keep_list_view('$kp', 'kl_m1')")
    val kl1 = spark.sql(
      "SELECT cluster, keep_id, n_members FROM kl_m1 ORDER BY cluster")
      .as[(Long, Long, Long)].collect().toSeq
    assert(kl1 == Seq((10L, 10L, 4L)), s"SQL cycle diverged: $kl1")
    // takedown: doc 10 (the root!) is gone from the base — the sweep
    // re-roots to the smallest live member in both tables
    Seq(11L, 20L, 21L).toDF("doc_id")
      .write.format("hadro").option("hadro.key", "doc_id")
      .mode("overwrite").save(s"$warehouse/db/cc2live")
    val sw = spark.sql(s"""CALL testcat.system.sweep_components(
      '$st', 'db.cc2live', '$kp')""").collect()
    assert(sw.head.getLong(0) == 1L, sw.toSeq.toString)
    spark.sql(s"CALL testcat.system.keep_list_view('$kp', 'kl_m2')")
    val kl2 = spark.sql(
      "SELECT cluster, keep_id, n_members FROM kl_m2 ORDER BY cluster")
      .as[(Long, Long, Long)].collect().toSeq
    assert(kl2 == Seq((11L, 11L, 3L)), s"SQL sweep diverged: $kl2")
    spark.sql("DROP TABLE testcat.db.cc2live")
  }

  test("CALL components_rebuild / curation_cycle / drop_list_view / " +
      "loop_health complete the SQL loop surface") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    val pairsDir = s"$warehouse/cr_pairs"
    val st = s"$warehouse/cr_state"; val kp = s"$warehouse/cr_keep"
    val dropDir = s"$warehouse/cr_drops"
    Seq((10L, 11L), (20L, 21L), (5L, 10L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("overwrite").save(pairsDir)
    // REBUILD bootstraps membership + keep-list from the adopted log
    val rb = spark.sql(s"""CALL testcat.system.components_rebuild(
      '$pairsDir', '$st', '$kp')""").collect()
    assert(rb.head.getLong(0) == 5L, rb.toSeq.toString)
    spark.sql(s"CALL testcat.system.keep_list_view('$kp', 'cr_kl')")
    val kl = spark.sql(
      "SELECT cluster, keep_id, n_members FROM cr_kl ORDER BY cluster")
      .as[(Long, Long, Long)].collect().toSeq
    assert(kl == Seq((5L, 5L, 3L), (20L, 20L, 2L)), kl.toString)
    // the curation consumer folds the (full, first-cycle) state window
    // into the drop list; survivors = corpus ANTI JOIN the view
    val c1 = spark.sql(s"""CALL testcat.system.curation_cycle(
      '$st', 'cr_drop', '$kp', '$dropDir')""").collect()
    assert(c1.head.getLong(0) >= 1L, c1.toSeq.toString)
    spark.sql(s"CALL testcat.system.drop_list_view('$dropDir', 'cr_dl')")
    val dl = spark.sql(
      "SELECT doc_id, cluster, keep_id FROM cr_dl ORDER BY doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(dl == Seq((10L, 5L, 5L), (11L, 5L, 5L), (21L, 20L, 20L)),
      dl.toString)
    // loop_health: a consumer cycle advances the cursor to the head —
    // lag 0, bounded segment counts, zero protocol breaks
    spark.sql(s"""CALL testcat.system.components_cycle(
      '$pairsDir', 'cr_cur', '$st', '$kp')""")
    val h = spark.sql(s"""CALL testcat.system.loop_health(
      '$pairsDir', 'cr_cur', '$st', '$kp')""").collect().head
    assert(h.getLong(2) == 0L, s"lag: $h") // head == cursor
    assert(h.getLong(3) >= 1L && h.getLong(4) >= 1L, s"segments: $h")
    assert(h.getLong(5) == 0L, s"breaks: $h")
    // live-row gauges: 3 log pairs, 5 member rows — the sweep-pressure
    // comparison an operator reads before CALL sweep_pairs
    assert(h.getLong(6) == 3L && h.getLong(7) == 5L, s"rows: $h")
    // a new window widens the lag until the next cycle
    Seq((30L, 31L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("append").save(pairsDir)
    val h2 = spark.sql(s"""CALL testcat.system.loop_health(
      '$pairsDir', 'cr_cur', '$st', '$kp')""").collect().head
    assert(h2.getLong(2) == 1L, s"post-append lag: $h2")
    // unknown cursor reports -1 lag rather than inventing a number
    val h3 = spark.sql(s"""CALL testcat.system.loop_health(
      '$pairsDir', 'no_such_tag', '$st', '')""").collect().head
    assert(h3.getLong(2) == -1L && h3.getLong(4) == -1L, s"$h3")
    // an ABSENT state dir reads -1 (absent), never 0 (exists-and-empty)
    // — a mis-pointed state_dir must not look healthy
    val h4 = spark.sql(s"""CALL testcat.system.loop_health(
      '$pairsDir', 'cr_cur', '$warehouse/never_created', '')""")
      .collect().head
    assert(h4.getLong(3) == -1L, s"absent state dir must read -1: $h4")
    // pair-log retention from SQL: cycle back to the head, then sweep —
    // this log is already star-shaped (4 edges, 4 star rows), so the
    // verb succeeds and reclaims exactly 0
    spark.sql(s"""CALL testcat.system.components_cycle(
      '$pairsDir', 'cr_cur', '$st', '$kp')""")
    val sw = spark.sql(
      s"CALL testcat.system.sweep_pairs('$pairsDir', '$st')")
      .collect().head
    assert(sw.getLong(0) == 0L, sw.toString)
    // the curation consumer registered its drop list on the STATE
    // collection — the state's registry names where each cursor folds
    val cs = graft.meta.CollectionMeta.readConsumers(
      java.nio.file.Paths.get(st))
    assert(cs.get("cr_drop").contains(
      graft.meta.CollectionMeta.canonicalStateDir(dropDir)), cs.toString)
  }

  test("the consumers metadata table reports per-cursor lag as a plain " +
      "relation (loop_health as a SELECT)") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    val pairsDir = s"$warehouse/db/lagpairs"
    val st = s"$warehouse/db/lagstate"
    Seq((10L, 11L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("overwrite").save(pairsDir)
    spark.sql(s"""CALL testcat.system.components_cycle(
      '$pairsDir', 'nightly', '$st')""")
    spark.sql("CALL testcat.system.create_tag('db.lagpairs', 'audit', -1)")
    // a second window only the nightly consumer folds — audit lags
    Seq((20L, 21L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("append").save(pairsDir)
    spark.sql(s"""CALL testcat.system.components_cycle(
      '$pairsDir', 'nightly', '$st')""")
    val head = graft.api.Collection(spark, pairsDir).version
    val rows = spark.sql("""SELECT tag, version, head_version, lag
        FROM testcat.db.lagpairs.consumers ORDER BY tag""")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(rows == Seq(("audit", head - 1, head, 1L),
      ("nightly", head, head, 0L)), rows.toString)
    // wall-clock lag derives from commit stamps: a caught-up consumer
    // reads exactly 0 ms, a lagging one a non-negative delta
    val ms = spark.sql(
      "SELECT tag, lag_ms FROM testcat.db.lagpairs.consumers")
      .as[(String, Long)].collect().toMap
    assert(ms("nightly") == 0L && ms("audit") >= 0L, ms.toString)
    // a branch head is a writer, not a consumer — it never appears
    spark.sql("CALL testcat.system.create_branch('db.lagpairs', 'wap', -1)")
    val tags = spark.sql("SELECT tag FROM testcat.db.lagpairs.consumers")
      .as[String].collect().toSet
    assert(tags == Set("audit", "nightly"), tags.toString)
    // the registry column: a cycling consumer advertises the state it
    // folds into; a plain snapshot pin has none
    val states = spark.sql(
      "SELECT tag, state_dir FROM testcat.db.lagpairs.consumers")
      .as[(String, Option[String])].collect().toMap
    assert(states("nightly").exists(_.endsWith("lagstate")), states.toString)
    assert(states("audit").isEmpty, states.toString)
    // rollup consumers register at bootstrap too: a fact table's
    // consumers relation names the rollup each cursor maintains
    val factDir = s"$warehouse/db/lagfact"
    val aggDir = s"$warehouse/db/lagagg"
    Seq((1L, "a", 10.0)).toDF("k", "g", "v")
      .write.format("hadro").mode("overwrite").save(factDir)
    graft.api.IncrementalRollup.bootstrap(spark, factDir, "ru_cur",
      aggDir, "g", Seq("v" -> "sv"))
    val ru = spark.sql(
      "SELECT tag, state_dir FROM testcat.db.lagfact.consumers")
      .as[(String, Option[String])].collect().toMap
    assert(ru("ru_cur").exists(_.endsWith("lagagg")), ru.toString)
  }

  test("CALL system procedures run storage maintenance from pure SQL") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("CREATE TABLE testcat.db.mt (id BIGINT, v DOUBLE) USING hadro")
    // several small inserts = several small segments
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO testcat.db.mt SELECT id, id * 1.0 FROM range(${i * 10}, ${i * 10 + 10}, 1, 1)"))
    val dir = java.nio.file.Paths.get(s"$warehouse/db/mt")
    assert(graft.meta.CollectionMeta.currentManifest(dir).segments.size == 4)

    // compact_small bin-packs the 4 tiny segments into one
    val bins = spark.sql("CALL testcat.system.compact_small('db.mt', 1048576)")
      .head.getInt(0)
    assert(bins == 1)
    assert(graft.meta.CollectionMeta.currentManifest(dir).segments.size == 1)

    // cluster (single column = exact sort) records the declared sort
    spark.sql("CALL testcat.system.cluster('db.mt', 'v', 2)")
    assert(graft.meta.CollectionMeta.currentManifest(dir).sortedBy.contains("v"))

    // compact returns the new committed version; data survives it all
    val v = spark.sql("CALL testcat.system.compact('db.mt')").head.getLong(0)
    assert(v == graft.meta.CollectionMeta.currentManifest(dir).version)
    assert(spark.sql("SELECT count(*) FROM testcat.db.mt").head.getLong(0) == 40)

    // vacuum reclaims the files the rewrites deferred-GC'd
    spark.sql("CALL testcat.system.vacuum('db.mt')")
    assert(spark.sql("SELECT count(*) FROM testcat.db.mt").head.getLong(0) == 40)

    // history returns the commit audit, newest first, consistent totals
    // (compaction reset retention here, so another insert grows it again)
    spark.sql("INSERT INTO testcat.db.mt SELECT id, id * 1.0 FROM range(100, 105, 1, 1)")
    val hist = spark.sql("CALL testcat.system.history('db.mt')").collect()
    assert(hist.length >= 2, s"expected several retained versions, got ${hist.length}")
    assert(hist.head.getLong(0) == graft.meta.CollectionMeta.currentManifest(dir).version)
    assert(hist.map(_.getLong(0)).toSeq == hist.map(_.getLong(0)).toSeq.sorted.reverse)
    assert(hist.head.getLong(3) == 45L) // n_rows of the current version
    assert(hist.head.getString(1) == "write")

    // unknown procedure / missing table fail with clear errors
    intercept[Exception](spark.sql("CALL testcat.system.nope('db.mt')"))
    intercept[Exception](spark.sql("CALL testcat.system.compact('db.missing')").collect())
    spark.sql("DROP TABLE testcat.db.mt")
  }

  test("CALL expire_snapshots bounds history by age, keeps the head") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("CREATE TABLE testcat.db.exp (id BIGINT) USING hadro")
    (0 until 3).foreach(i => spark.sql(
      s"INSERT INTO testcat.db.exp SELECT id FROM range(${i * 5}, ${i * 5 + 5}, 1, 1)"))
    val dir = java.nio.file.Paths.get(s"$warehouse/db/exp")
    val before = graft.meta.CollectionMeta.retainedManifests(dir)
    assert(before.size == 3)
    val head = before.map(_.version).max

    // cutoff in the far past expires nothing
    assert(spark.sql("CALL testcat.system.expire_snapshots('db.exp', 1)")
      .head.getInt(0) == 0)
    // cutoff in the far future expires everything EXCEPT the current head
    val out = spark.sql(
      s"CALL testcat.system.expire_snapshots('db.exp', ${Long.MaxValue})").head
    assert(out.getInt(0) == 2)
    assert(out.getLong(1) == head)
    val after = graft.meta.CollectionMeta.retainedManifests(dir)
    assert(after.map(_.version) == Seq(head), "only the head survives")

    // expired versions fail fast; the head still reads and writes
    intercept[Exception](spark.read.option("hadro.versionAsOf", head - 1)
      .format("hadro").load(dir.toString).collect())
    assert(spark.sql("SELECT count(*) FROM testcat.db.exp").head.getLong(0) == 15)
    spark.sql("INSERT INTO testcat.db.exp VALUES (99)")
    assert(spark.sql("SELECT count(*) FROM testcat.db.exp").head.getLong(0) == 16)
    spark.sql("DROP TABLE testcat.db.exp")
  }

  test("named tags pin versions across expire_snapshots; VERSION AS OF reads by tag") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("CREATE TABLE testcat.db.tagged (id BIGINT) USING hadro")
    (0 until 3).foreach(i => spark.sql(
      s"INSERT INTO testcat.db.tagged SELECT id FROM range(${i * 5}, ${i * 5 + 5}, 1, 1)"))
    val dir = java.nio.file.Paths.get(s"$warehouse/db/tagged")
    val v1 = graft.meta.CollectionMeta.retainedManifests(dir).map(_.version).min

    val out = spark.sql(
      s"CALL testcat.system.create_tag('db.tagged', 'first', $v1)").head
    assert(out.getString(0) == "first" && out.getLong(1) == v1)
    // -1 tags the current head
    val head = graft.meta.CollectionMeta.currentManifest(dir).version
    assert(spark.sql("CALL testcat.system.create_tag('db.tagged', 'head', -1)")
      .head.getLong(1) == head)

    // age-based expiry sweeps everything EXCEPT the head and the tags
    spark.sql(s"CALL testcat.system.expire_snapshots('db.tagged', ${Long.MaxValue})")
    val retained = graft.meta.CollectionMeta.retainedManifests(dir).map(_.version)
    assert(retained.contains(v1), "tagged version survives expiry")

    // VERSION AS OF by tag name; t.refs metadata table lists the tags
    assert(spark.sql("SELECT count(*) FROM testcat.db.tagged VERSION AS OF 'first'")
      .head.getLong(0) == 5)
    val refs = spark.sql("SELECT tag, version FROM testcat.db.tagged.refs ORDER BY tag")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(refs == Seq(("first", v1), ("head", head)))
    // unknown tag fails fast, naming the available tags
    val err = intercept[Exception](
      spark.sql("SELECT * FROM testcat.db.tagged VERSION AS OF 'nope'").collect())
    assert(err.getMessage.contains("first"))

    // the path-API read option resolves tags identically to SQL
    assert(spark.read.format("hadro").option("hadro.versionAsOf", "first")
      .load(dir.toString).count() == 5)
    intercept[Exception](spark.read.format("hadro")
      .option("hadro.versionAsOf", "ghost").load(dir.toString).count())

    // drop_tag releases the pin: the next expiry takes the version
    assert(spark.sql("CALL testcat.system.drop_tag('db.tagged', 'first')")
      .head.getBoolean(1))
    spark.sql(s"CALL testcat.system.expire_snapshots('db.tagged', ${Long.MaxValue})")
    assert(!graft.meta.CollectionMeta.retainedManifests(dir).map(_.version).contains(v1))
    intercept[Exception](
      spark.sql("SELECT * FROM testcat.db.tagged VERSION AS OF 'first'").collect())
    spark.sql("DROP TABLE testcat.db.tagged")
  }

  test("a tag pins physical files across DELETE + compact + vacuum; drop releases them") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("CREATE TABLE testcat.db.pinned (id BIGINT, v STRING) USING hadro")
    spark.sql("INSERT INTO testcat.db.pinned SELECT id, concat('r', id) FROM range(0, 100, 1, 1)")
    val dir = java.nio.file.Paths.get(s"$warehouse/db/pinned")
    def dataFiles = graft.meta.CollectionMeta.listDir(dir)
      .map(_.getFileName.toString).filter(_.endsWith(".data")).toSet
    val pinnedFiles = dataFiles
    spark.sql("CALL testcat.system.create_tag('db.pinned', 'release', -1)")

    // the history-destroying sequence: CoW delete, compact, vacuum (twice —
    // deferred GC purges the PREVIOUS generation's dead list each cycle)
    spark.sql("DELETE FROM testcat.db.pinned WHERE id % 2 = 0")
    spark.sql("CALL testcat.system.compact('db.pinned')")
    spark.sql("CALL testcat.system.vacuum('db.pinned')")
    spark.sql("CALL testcat.system.compact('db.pinned')")
    spark.sql("CALL testcat.system.vacuum('db.pinned')")
    assert(pinnedFiles.subsetOf(dataFiles), "tagged snapshot's files survive GC")
    assert(spark.sql("SELECT count(*) FROM testcat.db.pinned VERSION AS OF 'release'")
      .head.getLong(0) == 100)
    assert(spark.sql("SELECT count(*) FROM testcat.db.pinned").head.getLong(0) == 50)

    // dropping the tag returns the files to normal GC: within two
    // maintenance cycles (record dead, then purge) they are reclaimed
    spark.sql("CALL testcat.system.drop_tag('db.pinned', 'release')")
    spark.sql("CALL testcat.system.compact('db.pinned')")
    spark.sql("CALL testcat.system.vacuum('db.pinned')")
    spark.sql("CALL testcat.system.compact('db.pinned')")
    spark.sql("CALL testcat.system.vacuum('db.pinned')")
    assert(pinnedFiles.intersect(dataFiles).isEmpty,
      "dropped tag's files are reclaimed, not leaked")
    spark.sql("DROP TABLE testcat.db.pinned")
  }

  test("orphan_files lists crash leftovers only; remove_orphans spares everything owned") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("DROP TABLE IF EXISTS testcat.db.orph")
    spark.sql("CREATE TABLE testcat.db.orph (id BIGINT) USING hadro")
    spark.sql("INSERT INTO testcat.db.orph SELECT id FROM range(0, 50, 1, 1)")
    val dir = java.nio.file.Paths.get(s"$warehouse/db/orph")
    assert(spark.sql("CALL testcat.system.orphan_files('db.orph')").count() == 0)

    // a dead-listed file (deferred GC owns it — NOT an orphan); note a
    // compaction also dead-lists any stray file it finds, so the crash
    // leftover below must land AFTER the last rewrite to be a true orphan
    spark.sql("INSERT INTO testcat.db.orph VALUES (99)")
    spark.sql("CALL testcat.system.compact('db.orph')")
    // a crashed writer's never-committed task file
    java.nio.file.Files.write(dir.resolve("data-99999-0-deadbeef.data"),
      Array.fill[Byte](64)(1))

    val orphans = spark.sql("CALL testcat.system.orphan_files('db.orph')")
      .collect().map(_.getString(0))
    assert(orphans.toSeq == Seq("data-99999-0-deadbeef.data"),
      s"expected only the crash leftover, got ${orphans.mkString(",")}")

    // an unreadable dead-list hides which files the deferred GC owns:
    // listing must refuse loudly and removal must delete nothing
    def files = graft.meta.CollectionMeta.listDir(dir).map(_.getFileName.toString).toSet
    val torn = dir.resolve("_hadro").resolve("dead-1.json")
    java.nio.file.Files.write(torn, """["data-""".getBytes)
    val before = files
    Seq("orphan_files", "remove_orphans").foreach { verb =>
      val e = intercept[Exception](
        spark.sql(s"CALL testcat.system.$verb('db.orph')").collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("dead-1.json")), s"$verb: ${msgs.mkString(" | ")}")
    }
    assert(files == before, "remove_orphans deleted files behind an unreadable dead-list")
    java.nio.file.Files.delete(torn)

    assert(spark.sql("CALL testcat.system.remove_orphans('db.orph')")
      .head.getInt(0) == 1)
    assert(!java.nio.file.Files.exists(dir.resolve("data-99999-0-deadbeef.data")))
    // everything real is untouched
    assert(spark.sql("SELECT count(*) FROM testcat.db.orph").head.getLong(0) == 51)
    spark.sql("DROP TABLE testcat.db.orph")
  }

  test("write-audit-publish: stage a clone, mutate, publish atomically; history survives") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("DROP TABLE IF EXISTS testcat.db.prod")
    spark.sql("DROP TABLE IF EXISTS testcat.db.stage")
    spark.sql("CREATE TABLE testcat.db.prod (id BIGINT, v STRING) USING hadro")
    spark.sql("INSERT INTO testcat.db.prod SELECT id, concat('v', id) FROM range(0, 100, 1, 1)")
    val prodDir = java.nio.file.Paths.get(s"$warehouse/db/prod")
    val vBefore = graft.meta.CollectionMeta.currentManifest(prodDir).version

    // WAP: zero-copy branch, pipeline writes + audit on the branch only
    spark.sql("CALL testcat.system.clone('db.prod', 'db.stage')")
    spark.sql("DELETE FROM testcat.db.stage WHERE id % 2 = 0")
    spark.sql("INSERT INTO testcat.db.stage VALUES (999, 'audited')")
    // prod untouched while the stage diverges
    assert(spark.sql("SELECT count(*) FROM testcat.db.prod").head.getLong(0) == 100)

    val out = spark.sql("CALL testcat.system.publish('db.stage', 'db.prod')").head
    assert(out.getLong(0) == vBefore + 1, "publish is ONE commit")
    assert(spark.sql("SELECT count(*) FROM testcat.db.prod").head.getLong(0) == 51)
    assert(spark.sql("SELECT v FROM testcat.db.prod WHERE id = 999").head.getString(0)
      == "audited")
    // pre-publish state still reachable: rollback-able history
    assert(spark.sql(
      s"SELECT count(*) FROM testcat.db.prod VERSION AS OF $vBefore")
      .head.getLong(0) == 100)
    spark.sql(s"CALL testcat.system.rollback('db.prod', $vBefore)")
    assert(spark.sql("SELECT count(*) FROM testcat.db.prod").head.getLong(0) == 100)

    // OPTIMISTIC CONCURRENCY: the rollback advanced prod past the branch
    // base, so an un-forced re-publish refuses instead of silently
    // replacing the concurrent commit
    val oc = intercept[Exception](
      spark.sql("CALL testcat.system.publish('db.stage', 'db.prod')"))
    assert(oc.getMessage.contains("target advanced"), oc.getMessage)

    // the TARGET's constraints gate even a FORCED publish: stage carries
    // id=999, so a prod-side CHECK added after the clone refuses the swap
    spark.sql("ALTER TABLE testcat.db.prod SET TBLPROPERTIES ('constraint.small' = 'id < 500')")
    val ce = intercept[Exception](
      spark.sql("CALL testcat.system.publish('db.stage', 'db.prod', true)"))
    assert(ce.getMessage.contains("CHECK constraint(s) 'small'"))
    spark.sql("ALTER TABLE testcat.db.prod UNSET TBLPROPERTIES ('constraint.small')")

    // force overrides the concurrency refusal; the swap lands
    assert(spark.sql("CALL testcat.system.publish('db.stage', 'db.prod', true)")
      .head.getLong(0) > 0)
    assert(spark.sql("SELECT count(*) FROM testcat.db.prod").head.getLong(0) == 51)

    // schema drift refuses to publish (forced or not)
    spark.sql("ALTER TABLE testcat.db.stage ADD COLUMN extra STRING")
    intercept[Exception](
      spark.sql("CALL testcat.system.publish('db.stage', 'db.prod', true)"))
    spark.sql("DROP TABLE testcat.db.stage")
    spark.sql("DROP TABLE testcat.db.prod")
  }

  test("CHECK constraints: declared at CREATE, enforced per row, NULL passes") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("""CREATE TABLE testcat.db.checked (k BIGINT, v STRING) USING hadro
      TBLPROPERTIES ('constraint.k_pos' = 'k > 0',
                     'constraint.v_short' = 'length(v) <= 8')""")
    spark.sql("INSERT INTO testcat.db.checked VALUES (1, 'ok'), (2, NULL)") // NULL passes
    assert(spark.sql("SELECT count(*) FROM testcat.db.checked").head.getLong(0) == 2)

    val e1 = intercept[Exception](
      spark.sql("INSERT INTO testcat.db.checked VALUES (-5, 'ok')"))
    assert(e1.getMessage != null)
    val e2 = intercept[Exception](
      spark.sql("INSERT INTO testcat.db.checked VALUES (3, 'waytoolongvalue')"))
    assert(e2.getMessage != null)
    // failed writes leave nothing behind (task abort, no commit)
    assert(spark.sql("SELECT count(*) FROM testcat.db.checked").head.getLong(0) == 2)

    // surfaced as table properties AND the t.constraints metadata table
    val props = spark.sql("SHOW TBLPROPERTIES testcat.db.checked").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props.get("constraint.k_pos").contains("k > 0"))
    val ct = spark.sql(
      "SELECT name, expression FROM testcat.db.checked.constraints ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(ct == Seq(("k_pos", "k > 0"), ("v_short", "length(v) <= 8")))

    // invalid expressions fail at CREATE, loudly
    intercept[Exception](spark.sql(
      """CREATE TABLE testcat.db.badc (x INT) USING hadro
        TBLPROPERTIES ('constraint.broken' = 'nope(x)')"""))
    spark.sql("DROP TABLE testcat.db.checked")
  }

  test("CHECK constraints gate delta UPDATE/MERGE; bad DDL leaves no ghost table") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("DROP TABLE IF EXISTS testcat.db.cdelta")
    spark.sql("""CREATE TABLE testcat.db.cdelta (k BIGINT, v BIGINT) USING hadro
      TBLPROPERTIES ('key'='k', 'constraint.vpos'='v >= 0')""")
    spark.sql("INSERT INTO testcat.db.cdelta VALUES (1, 5), (2, 7)")

    // keyed UPDATE routes through the delta (merge-on-read) writer: a
    // violating new row must fail there, not slip past enforcement
    intercept[Exception](
      spark.sql("UPDATE testcat.db.cdelta SET v = -1 WHERE k = 1"))
    // MERGE insert takes the same path
    intercept[Exception](spark.sql(
      """MERGE INTO testcat.db.cdelta t USING (SELECT 9L AS k, -3L AS v) s
        ON t.k = s.k WHEN NOT MATCHED THEN INSERT *"""))
    val left = spark.sql("SELECT k, v FROM testcat.db.cdelta ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(left == Seq((1L, 5L), (2L, 7L)), s"violations must not land: $left")

    // invalid constraints fail the CREATE cleanly — no ghost table
    intercept[Exception](spark.sql(
      """CREATE TABLE testcat.db.cghost (x INT) USING hadro
        TBLPROPERTIES ('constraint.bad' = 'y > 0')""")) // unknown column
    intercept[Exception](spark.sql(
      """CREATE TABLE testcat.db.cghost (x INT) USING hadro
        TBLPROPERTIES ('constraint.nb' = 'x + 1')""")) // non-boolean
    // the corrected retry succeeds — the failed CREATEs left nothing
    spark.sql("""CREATE TABLE testcat.db.cghost (x INT) USING hadro
      TBLPROPERTIES ('constraint.ok' = 'x > 0')""")
    spark.sql("DROP TABLE testcat.db.cghost")

    // all-digit tag names are reserved for version numbers
    val e = intercept[Exception](
      spark.sql("CALL testcat.system.create_tag('db.cdelta', '7', -1)"))
    assert(e.getMessage.contains("digits"))
    spark.sql("DROP TABLE testcat.db.cdelta")
  }

  test("CHECK constraints: ALTER SET retro-checks existing rows, UNSET releases") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("CREATE TABLE testcat.db.retro (k BIGINT) USING hadro")
    spark.sql("INSERT INTO testcat.db.retro SELECT id FROM range(1, 10)")

    // compliant rows: constraint lands and enforces from then on
    spark.sql("ALTER TABLE testcat.db.retro SET TBLPROPERTIES ('constraint.pos' = 'k > 0')")
    intercept[Exception](spark.sql("INSERT INTO testcat.db.retro VALUES (0)"))

    // a constraint existing rows violate is rejected wholesale
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE testcat.db.retro SET TBLPROPERTIES ('constraint.big' = 'k > 100')"))
    assert(e.getMessage.contains("existing rows violate"))

    // UNSET drops the constraint; the previously-rejected row now writes
    spark.sql("ALTER TABLE testcat.db.retro UNSET TBLPROPERTIES ('constraint.pos')")
    spark.sql("INSERT INTO testcat.db.retro VALUES (0)")
    assert(spark.sql("SELECT count(*) FROM testcat.db.retro").head.getLong(0) == 10)
    spark.sql("DROP TABLE testcat.db.retro")
  }

  test("CALL clone makes a zero-copy snapshot that diverges independently") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("DROP TABLE IF EXISTS testcat.db.cl_src")
    spark.sql("CREATE TABLE testcat.db.cl_src (id BIGINT, v DOUBLE) USING hadro")
    spark.sql("INSERT INTO testcat.db.cl_src SELECT id, id * 1.0 FROM range(0, 200, 1, 2)")

    val out = spark.sql("CALL testcat.system.clone('db.cl_src', 'db.cl_dst')").head
    assert(out.getLong(1) >= 1L)
    assert(spark.sql("SELECT count(*) FROM testcat.db.cl_dst").head.getLong(0) == 200)
    // storage is shared, not copied: same inode behind both directory entries
    val srcDir = java.nio.file.Paths.get(s"$warehouse/db/cl_src")
    val dstDir = java.nio.file.Paths.get(s"$warehouse/db/cl_dst")
    val seg = graft.meta.CollectionMeta.currentManifest(srcDir).segments.head.file
    def inode(p: java.nio.file.Path) =
      java.nio.file.Files.readAttributes(p, "unix:ino").get("ino")
    assert(inode(srcDir.resolve(seg)) == inode(dstDir.resolve(seg)))

    // divergence: a delete in the clone leaves the source untouched…
    spark.sql("DELETE FROM testcat.db.cl_dst WHERE id < 50")
    assert(spark.sql("SELECT count(*) FROM testcat.db.cl_dst").head.getLong(0) == 150)
    assert(spark.sql("SELECT count(*) FROM testcat.db.cl_src").head.getLong(0) == 200)
    // …and a compaction + vacuum of the source leaves the clone whole
    spark.sql("CALL testcat.system.compact('db.cl_src')")
    spark.sql("CALL testcat.system.compact('db.cl_src')") // purge deferred gen
    spark.sql("CALL testcat.system.vacuum('db.cl_src')")
    assert(spark.sql("SELECT count(*) FROM testcat.db.cl_dst").head.getLong(0) == 150)
    assert(spark.sql("SELECT CAST(SUM(id) AS BIGINT) FROM testcat.db.cl_dst")
      .head.getLong(0) == (50L until 200L).sum)

    // cloning onto an existing table fails fast
    intercept[Exception](
      spark.sql("CALL testcat.system.clone('db.cl_src', 'db.cl_dst')").collect())
    spark.sql("DROP TABLE testcat.db.cl_src")
    spark.sql("DROP TABLE testcat.db.cl_dst")
  }

  test("metadata tables: SELECT from t.files and t.history") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("DROP TABLE IF EXISTS testcat.db.meta")
    spark.sql("CREATE TABLE testcat.db.meta (id BIGINT, v DOUBLE) USING hadro")
    spark.sql("INSERT INTO testcat.db.meta SELECT id, id * 1.0 FROM range(0, 300, 1, 3)")
    spark.conf.set("spark.hadro.delete.mode", "dv")
    try spark.sql("DELETE FROM testcat.db.meta WHERE id % 3 = 0")
    finally spark.conf.unset("spark.hadro.delete.mode")

    val files = spark.sql("SELECT * FROM testcat.db.meta.files")
    assert(files.columns.toSeq == Seq("file", "ordinal", "n_rows",
      "n_tombstones", "n_dv_deletes", "n_bytes", "bucket", "partition",
      "delete_vector"))
    val agg = spark.sql("""SELECT CAST(SUM(n_rows) AS BIGINT),
      CAST(SUM(n_dv_deletes) AS BIGINT) FROM testcat.db.meta.files""").head
    assert(agg.getLong(0) == 300L && agg.getLong(1) == 100L)
    assert(files.count() == 3) // one segment per input partition

    val hist = spark.sql(
      "SELECT version, n_rows FROM testcat.db.meta.history ORDER BY version DESC")
      .collect()
    assert(hist.length >= 2)
    assert(hist.head.getLong(1) == 200L, "current live rows after the dv delete")
    assert(hist(1).getLong(1) == 300L, "pre-delete version shows all rows")

    // a genuinely missing table still errors; metadata tables are read-only
    intercept[Exception](spark.sql("SELECT * FROM testcat.db.nosuch.files").collect())
    intercept[Exception](
      spark.sql("INSERT INTO testcat.db.meta.files VALUES ('x',0,0,0,0,0,0,'y')"))
    spark.sql("DROP TABLE testcat.db.meta")
  }

  test("metadata table t.blocks exposes per-block stats for multi-block segments") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("DROP TABLE IF EXISTS testcat.db.blocky")
    spark.sql("CREATE TABLE testcat.db.blocky (id BIGINT, v STRING) USING hadro")
    // one sorted writer task + tiny split cadence -> multi-block segment
    spark.range(0, 2000, 1, 1).selectExpr("id", "concat('v', id) AS v")
      .orderBy("id").coalesce(1)
      .write.format("hadro").mode("append")
      .option("hadro.splitBytes", 4 * 1024).save(s"$warehouse/db/blocky")

    val blocks = spark.sql(
      """SELECT block_idx, start_row, n_rows, min_value, max_value
        FROM testcat.db.blocky.blocks WHERE column = 'id' ORDER BY block_idx""")
      .collect()
    assert(blocks.length > 1, "expected multiple blocks")
    // block rows partition the segment; sorted data -> disjoint id ranges
    assert(blocks.map(_.getLong(2)).sum == 2000L)
    val ranges = blocks.map(r => (r.getString(3).toLong, r.getString(4).toLong))
    assert(ranges.sliding(2).forall { case Array((_, hi), (lo, _)) => hi < lo })
    spark.sql("DROP TABLE testcat.db.blocky")
  }

  test("metadata table t.detail reports the one-row table summary") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("DROP TABLE IF EXISTS testcat.db.det")
    spark.sql("""CREATE TABLE testcat.db.det (k BIGINT, v STRING) USING hadro
      TBLPROPERTIES ('key'='k', 'constraint.pos'='k >= 0')""")
    spark.sql("INSERT INTO testcat.db.det SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    spark.sql("CALL testcat.system.create_tag('db.det', 'r1', -1)")
    val d = spark.sql(
      """SELECT n_segments, n_rows, key, n_constraints, n_tags
        FROM testcat.db.det.detail""").head
    assert(d.getLong(0) == 1L && d.getLong(1) == 10L)
    assert(d.getString(2) == "k" && d.getInt(3) == 1 && d.getInt(4) == 1)
    spark.sql("DROP TABLE testcat.db.det")
  }

  test("metadata table t.stats exposes the ANALYZE output") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("DROP TABLE IF EXISTS testcat.db.st")
    spark.sql("CREATE TABLE testcat.db.st (id BIGINT, v DOUBLE, s STRING) USING hadro")
    spark.sql("INSERT INTO testcat.db.st " +
      "SELECT id, id * 1.0, CAST(id % 7 AS STRING) FROM range(0, 140, 1, 2)")
    // before analyze: no rows (never analyzed)
    assert(spark.sql("SELECT * FROM testcat.db.st.stats").count() == 0)
    spark.sql("CALL testcat.system.analyze('db.st', true, 0)")
    val stats = spark.sql("SELECT * FROM testcat.db.st.stats ORDER BY column")
    assert(stats.columns.toSeq == Seq("column", "ndv", "null_count",
      "avg_len", "max_len", "min_value", "max_value", "analyzed_version"))
    val byCol = stats.collect().map(r => r.getString(0) -> r).toMap
    assert(byCol("id").getLong(1) == 140L)
    assert(byCol("id").getString(5) == "0" && byCol("id").getString(6) == "139")
    assert(byCol("s").getLong(1) == 7L)
    assert(byCol("v").getString(5).toDouble == 0.0)
    spark.sql("DROP TABLE testcat.db.st")
  }

  test("catalog tables and path API address the same collection") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("CREATE TABLE testcat.db.nums (id BIGINT, v DOUBLE) USING hadro")
    spark.sql("INSERT INTO testcat.db.nums SELECT id, id * 1.5 FROM range(10)")
    // same collection via the path-based reader, with pushdown and all
    val viaPath = spark.read.format("hadro").load(s"$warehouse/db/nums")
    assert(viaPath.count() == 10)
    assert(viaPath.filter($"id" === 3L).select($"v").as[Double].head() == 4.5)
    // and keyed Collection handles work on top of it too
    val c = graft.api.Collection(spark, s"$warehouse/db/nums")
    assert(c.count() == 10)
  }

  test("read options (time travel) work through catalog identifiers") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("CREATE TABLE testcat.db.tt (id BIGINT) USING hadro")
    spark.sql("INSERT INTO testcat.db.tt SELECT id FROM range(5)")
    val v1 = graft.meta.CollectionMeta
      .currentManifest(java.nio.file.Paths.get(s"$warehouse/db/tt")).version
    spark.sql("INSERT INTO testcat.db.tt SELECT id FROM range(5, 10)")
    assert(spark.table("testcat.db.tt").count() == 10)
    val snapshot = spark.read.option("hadro.versionAsOf", v1).table("testcat.db.tt")
    assert(snapshot.count() == 5)
    spark.sql("DROP TABLE testcat.db.tt")
  }

  test("schema contract: add/rename/drop ALTER evolve in place, type change and duplicate CREATE fail") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("CREATE TABLE testcat.db.fixed (a INT) USING hadro")
    // additive nullable evolution is in-place (EvolutionSpec covers data)
    spark.sql("ALTER TABLE testcat.db.fixed ADD COLUMN b INT")
    assert(spark.table("testcat.db.fixed").schema.fieldNames.sameElements(Array("a", "b")))
    // rename + drop are metadata-only in-place evolution (EvolutionSpec
    // covers data/pruning); type changes still need a rewrite
    spark.sql("ALTER TABLE testcat.db.fixed RENAME COLUMN a TO z")
    spark.sql("ALTER TABLE testcat.db.fixed DROP COLUMN b")
    assert(spark.table("testcat.db.fixed").schema.fieldNames.sameElements(Array("z")))
    // safe WIDENING evolves in place (EvolutionSpec covers data) ...
    spark.sql("ALTER TABLE testcat.db.fixed ALTER COLUMN z TYPE BIGINT")
    assert(spark.table("testcat.db.fixed").schema("z").dataType ==
      org.apache.spark.sql.types.LongType)
    // ... but narrowing and cross-family changes still need a rewrite
    intercept[Exception](spark.sql("ALTER TABLE testcat.db.fixed ALTER COLUMN z TYPE INT"))
    intercept[Exception](spark.sql("ALTER TABLE testcat.db.fixed ALTER COLUMN z TYPE STRING"))
    intercept[Exception](spark.sql("ALTER TABLE testcat.db.fixed DROP COLUMN z")) // last column
    intercept[Exception](spark.sql("CREATE TABLE testcat.db.fixed (a INT) USING hadro"))
    spark.sql("DROP TABLE testcat.db.fixed")
  }

  test("SQL DELETE on a non-keyed table: copy-on-write rewrites ONLY affected segments, one commit") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("CREATE TABLE testcat.db.cow (id BIGINT, tag STRING) USING hadro")
    // two inserts = two disjoint id ranges = disjoint segment stats
    spark.sql("INSERT INTO testcat.db.cow SELECT id, 'lo' FROM range(0, 5, 1, 1)")
    spark.sql("INSERT INTO testcat.db.cow SELECT id, 'hi' FROM range(100, 105, 1, 1)")
    val dir = java.nio.file.Paths.get(s"$warehouse/db/cow")
    val m0 = graft.meta.CollectionMeta.currentManifest(dir)
    val hiFiles = m0.segments.filter(_.stats("id").min.exists(_.toLong >= 100)).map(_.file).toSet
    assert(hiFiles.nonEmpty)

    spark.sql("DELETE FROM testcat.db.cow WHERE id < 3")

    // plain SQL SELECT reflects the delete directly (no resolution needed)
    assert(spark.sql("SELECT id FROM testcat.db.cow ORDER BY id")
      .as[Long].collect().toSeq == Seq(3L, 4L, 100L, 101L, 102L, 103L, 104L))
    val m1 = graft.meta.CollectionMeta.currentManifest(dir)
    // exactly one manifest commit for the DELETE
    assert(m1.version == m0.version + 1)
    // segment-selective: the hi-range segments were never rewritten
    assert(hiFiles.subsetOf(m1.segments.map(_.file).toSet))
    // the lo-range segments were replaced
    assert((m0.segments.map(_.file).toSet -- hiFiles)
      .intersect(m1.segments.map(_.file).toSet).isEmpty)
    // non-mutating path: manifest fast-paths (count pushdown) stay alive
    assert(!m1.mutated)

    // statically-provable no-op: no commit at all
    spark.sql("DELETE FROM testcat.db.cow WHERE id > 100000")
    assert(graft.meta.CollectionMeta.currentManifest(dir).version == m1.version)

    // delete-all empties the affected segments but keeps the table
    spark.sql("DELETE FROM testcat.db.cow")
    assert(spark.table("testcat.db.cow").count() == 0)
    spark.sql("DROP TABLE testcat.db.cow")
  }

  test("SQL DELETE on a keyed table: one tombstone commit, LWW-correct resolved reads") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("CREATE TABLE testcat.db.kv (k BIGINT, v STRING) USING hadro TBLPROPERTIES ('key'='k')")
    spark.sql("INSERT INTO testcat.db.kv SELECT id, concat('v', id) FROM range(0, 6, 1, 1)")
    val dir = s"$warehouse/db/kv"
    val coll = graft.api.Collection(spark, dir)
    // an UPDATED key whose OLD version matches the predicate but whose
    // latest does not must survive the delete
    coll.set(Seq((5L, "keepme")).toDF("k", "v"))
    val v0 = graft.meta.CollectionMeta
      .currentManifest(java.nio.file.Paths.get(dir)).version

    spark.sql("DELETE FROM testcat.db.kv WHERE v LIKE 'v%' AND k >= 3")

    // exactly one manifest commit (the tombstone append)
    val m1 = graft.meta.CollectionMeta.currentManifest(java.nio.file.Paths.get(dir))
    assert(m1.version == v0 + 1)
    // resolved reads: k=3,4 deleted; k=5 survived (latest version 'keepme')
    val left = coll.toDF().orderBy("k").as[(Long, String)].collect().toSeq
    assert(left == Seq((0L, "v0"), (1L, "v1"), (2L, "v2"), (5L, "keepme")))
    assert(!coll.contains(3L) && coll.contains(5L))
    assert(coll.count() == 4)
    spark.sql("DROP TABLE testcat.db.kv")
  }

  test("SQL DELETE with a subquery takes the row-level path; TRUNCATE TABLE works") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    spark.sql("CREATE TABLE testcat.db.tr (id BIGINT) USING hadro")
    spark.sql("INSERT INTO testcat.db.tr SELECT id FROM range(10)")
    // subqueries cannot reach SupportsDeleteV2.deleteWhere — they used to
    // be an analysis error; SupportsRowLevelOperations now rewrites them
    // into a group-based copy-on-write ReplaceData plan instead
    spark.sql(
      "DELETE FROM testcat.db.tr WHERE id IN (SELECT id FROM testcat.db.tr WHERE id < 2)")
    assert(spark.table("testcat.db.tr").count() == 8)
    spark.sql("INSERT INTO testcat.db.tr SELECT id FROM range(2)")
    assert(spark.table("testcat.db.tr").count() == 10)
    spark.sql("TRUNCATE TABLE testcat.db.tr")
    assert(spark.table("testcat.db.tr").count() == 0)
    // the table survives truncation and accepts new writes
    spark.sql("INSERT INTO testcat.db.tr VALUES (42)")
    assert(spark.table("testcat.db.tr").as[Long].collect().toSeq == Seq(42L))
    spark.sql("DROP TABLE testcat.db.tr")
  }

  test("CALL system.resolved_view serves the LWW view of a keyed MOR " +
      "table; rollup procedures reject malformed aggregate grammar") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    val path = s"$warehouse/db/rvk"
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "s", "v")
      .write.format("hadro").mode("overwrite")
      .option("hadro.key", "k").save(path)
    val c = graft.api.Collection(spark, path)
    c.set(Seq((1L, "a", 9.0)).toDF("k", "s", "v")) // shadow k=1
    c.delete(2L)                                   // tombstone k=2
    // the plain SQL scan keeps reference scan() parity: the shadowed
    // version is still visible (tombstone records are skipped)
    assert(spark.sql("SELECT count(*) FROM testcat.db.rvk").head.getLong(0) == 3)
    // resolved_view serves what toDF() serves: latest per key, no dead keys
    val desc = spark.sql(
      "CALL testcat.system.resolved_view('db.rvk', 'rvk_resolved')").collect()
    assert(desc.length == 1 && desc.head.getString(0) == "rvk_resolved")
    val rows = spark.sql("SELECT k, v FROM rvk_resolved ORDER BY k")
      .as[(Long, Double)].collect().toSeq
    assert(rows == Seq((1L, 9.0)), rows.toString)
    // the procedures' aggregate-spec grammar fails fast and names itself
    val e1 = intercept[Exception](spark.sql(
      """CALL testcat.system.rollup_bootstrap('db.rvk', 't', 'db.r',
        's', 'bogus')""").collect())
    assert(e1.getMessage.contains("fn:src:out"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      """CALL testcat.system.rollup_cycle('db.rvk', 't', 'db.r',
        's', 'a:b:c:d', false)""").collect())
    assert(e2.getMessage.contains("src:out"), e2.getMessage)
    spark.catalog.dropTempView("rvk_resolved")
  }

  test("CALL system.rollup_cycle(keyed=true) and rollup_refresh drive the " +
      "keyed consumer loops from SQL") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    val factPath = s"$warehouse/db/kfact"
    Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("k", "g", "v")
      .write.format("hadro").mode("overwrite")
      .option("hadro.key", "k").save(factPath)
    val fact = graft.api.Collection(spark, factPath)
    // keyed delta loop: bootstrap + one cycle over an upsert + tombstone
    spark.sql("""CALL testcat.system.rollup_bootstrap('db.kfact',
      'kc_cursor', 'db.kagg', 'g', 'sum:v:sv')""").collect()
    fact.set(Seq((1L, "a", 50.0), (4L, "c", 4.0)).toDF("k", "g", "v"))
    fact.merge(Seq((3L, "b", 30.0, true)).toDF("k", "g", "v", "d"), $"d")
    val cv = spark.sql("""CALL testcat.system.rollup_cycle('db.kfact',
      'kc_cursor', 'db.kagg', 'g', 'v:sv', true)""").collect()
    assert(cv.length == 1 && cv.head.getLong(0) == fact.version)
    val agg = graft.api.Collection(spark, s"$warehouse/db/kagg").toDF()
      .select($"g", $"n", $"sv".cast("double"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(agg == Seq(("a", 2L, 70.0), ("c", 1L, 4.0)), agg.toString)
    // keyed partial-recompute loop: MIN/MAX via rollup_refresh
    spark.sql("""CALL testcat.system.rollup_bootstrap('db.kfact',
      'kr_cursor', 'db.kmm', 'g', 'min:v:min_v,max:v:max_v')""").collect()
    fact.set(Seq((1L, "b", 1.0)).toDF("k", "g", "v")) // a -> b group move
    spark.sql("""CALL testcat.system.rollup_refresh('db.kfact',
      'kr_cursor', 'db.kmm', 'g', 'min:v:min_v,max:v:max_v')""").collect()
    val mm = graft.api.Collection(spark, s"$warehouse/db/kmm").toDF()
      .select($"g", $"n", $"min_v", $"max_v")
      .as[(String, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(mm == Seq(("a", 1L, 20.0, 20.0), ("b", 1L, 1.0, 1.0),
      ("c", 1L, 4.0, 4.0)), mm.toString)
  }

  test("CALL system.sweep_index rewrites an ANN index against its live base") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.db")
    val basePath = s"$warehouse/db/vecbase"
    val vecs = (0 until 16).map(i =>
      (i.toLong, Seq.tabulate(4)(j => (i + j).toFloat / 16f)))
      .toDF("vid", "emb")
    graft.api.Collection.create(spark, basePath, vecs, key = Some("vid"))
    val base = graft.api.Collection(spark, basePath)
    graft.ops.SimilarityOps.buildSqIndex(spark, s"$warehouse/db/vecidx",
      vecs, "vid", "emb", numSegments = 2)
    base.delete(3L, 7L, 11L)
    val out = spark.sql(
      """CALL testcat.system.sweep_index('db.vecidx', 'db.vecbase',
        'vid')""").collect()
    assert(out.length == 1 && out.head.getLong(0) == 3L,
      s"sweep_index descriptor: ${out.toSeq}")
    val left = graft.api.Collection(spark, s"$warehouse/db/vecidx")
      .toDF().select($"vid").as[Long].collect().sorted.toSeq
    assert(left == (0L until 16L).filterNot(Seq(3L, 7L, 11L).contains),
      left.toString)
  }
}
