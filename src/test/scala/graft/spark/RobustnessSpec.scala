package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.api.Collection
import graft.format.KeyBloom
import graft.meta.CollectionMeta

/** Bloom sidecars, explicit-schema reads, and concurrent-commit safety. */
class RobustnessSpec extends SparkSuite {
  import spark.implicits._

  test("KeyBloom has no false negatives and low false positives") {
    val b = KeyBloom()
    (0L until 10000L by 2).foreach(v => b.add(v))
    (0L until 10000L by 2).foreach(v => assert(b.mightContain(v)))
    val fp = (1L until 10000L by 2).count(b.mightContain)
    assert(fp < 250, s"false positives $fp") // ~0.5% expected at this load
    val roundtrip = Files.createTempFile("bloom", ".bloom")
    b.writeTo(roundtrip)
    val b2 = KeyBloom.readFrom(roundtrip).get
    (0L until 10000L by 2).foreach(v => assert(b2.mightContain(v)))
  }

  test("string-keyed collections bloom and point-get correctly") {
    val path = Files.createTempDirectory("sbloom").resolve("c").toString
    val src = Seq.tabulate(500)(i => (s"key_$i", i)).toDF("k", "v")
    val c = Collection.create(spark, path, src, key = Some("k"), numSegments = 4)
    assert(c.get("key_321").select($"v").as[Int].collect().toList == List(321))
    assert(!c.contains("key_9999"))
    val b = KeyBloom()
    (0 until 500).foreach(i => b.add(org.apache.spark.unsafe.types.UTF8String.fromString(s"key_$i")))
    // write-side internal (UTF8String) and plan-side (String via converter)
    // canonicalization must agree
    assert(b.mightContain(org.apache.spark.unsafe.types.UTF8String.fromString("key_42")))
  }

  test("keyed collections write bloom sidecars and point gets consult them") {
    val path = Files.createTempDirectory("bloom").resolve("c").toString
    val src = spark.read.parquet(s"$sf0001/customer.parquet")
    Collection.create(spark, path, src, key = Some("c_custkey"), numSegments = 4)
    val m = CollectionMeta.currentManifest(java.nio.file.Paths.get(path))
    assert(m.segments.forall(_.bloom.isDefined))
    assert(m.segments.forall(_.bloomCol.contains("c_custkey")))
    // random (hash) partitioning means min/max can't prune; bloom usually can
    val df = spark.read.format("hadro").load(path).filter($"c_custkey" === 37L)
    assert(df.select($"c_custkey").as[Long].collect().toList == List(37L))
  }

  test("explicit read schema projects by name; type mismatch fails fast") {
    val path = Files.createTempDirectory("schema").resolve("c").toString
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    Collection.create(spark, path, src)
    // subset schema in a DIFFERENT field order than stored
    val subset = StructType(Seq(
      StructField("r_name", StringType), StructField("r_regionkey", IntegerType)))
    val got = spark.read.format("hadro").schema(subset).load(path)
      .orderBy("r_regionkey").collect()
    assert(got.length == 5 && got.head.getString(0).nonEmpty)
    // wrong type for a stored column
    val bad = StructType(Seq(StructField("r_regionkey", StringType)))
    val e = intercept[Exception] {
      spark.read.format("hadro").schema(bad).load(path).collect()
    }
    assert(e.getMessage.contains("stored as"))
  }

  test("columnar path round-trips arrays with null elements and null arrays") {
    val path = Files.createTempDirectory("colarr").resolve("c").toString
    val df = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(1L, Seq[java.lang.Float](1.5f, null, 3.0f)),
        org.apache.spark.sql.Row(2L, null),
        org.apache.spark.sql.Row(3L, Seq[java.lang.Float]())),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vals", ArrayType(FloatType, containsNull = true)))))
    Collection.create(spark, path, df)
    val back = spark.read.format("hadro").load(path)
    back.collect()
    assert(back.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val rows = back.orderBy("id").collect()
    assert(rows(0).getSeq[java.lang.Float](1) == Seq(1.5f, null, 3.0f))
    assert(rows(1).isNullAt(1))
    assert(rows(2).getSeq[java.lang.Float](1).isEmpty)
  }

  test("manifest GC bounds metadata growth without breaking reads") {
    val path = Files.createTempDirectory("gc").resolve("c").toString
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val c = Collection.create(spark, path, src)
    (1 to 20).foreach(_ => c.append(src.limit(1)))
    val metaDir = java.nio.file.Paths.get(path).resolve("_hadro")
    val manifests = Files.list(metaDir).iterator()
    var count = 0
    while (manifests.hasNext) {
      if (manifests.next().getFileName.toString.startsWith("manifest-")) count += 1
    }
    assert(count <= CollectionMeta.KeepVersions + 2, s"$count manifests kept")
    assert(spark.read.format("hadro").load(path).count() == src.count() + 20)
  }

  test("concurrent appends both commit (manifest version race resolves)") {
    val path = Files.createTempDirectory("race").resolve("c").toString
    val src = spark.read.parquet(s"$sf0001/nation.parquet")
    Collection.create(spark, path, src.limit(0)) // schema only
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def appender(body: => Unit) = new Thread(() =>
      try body catch { case t: Throwable => failures.add(t) })
    val t1 = appender(
      src.filter($"n_nationkey" < 10).write.format("hadro").mode("append").save(path))
    val t2 = appender(
      src.filter($"n_nationkey" >= 10).write.format("hadro").mode("append").save(path))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(failures.isEmpty, s"concurrent append failed: ${failures.peek()}")
    assert(spark.read.format("hadro").load(path).count() == src.count())
    val m = CollectionMeta.currentManifest(java.nio.file.Paths.get(path))
    assert(m.segments.map(_.ordinal).distinct.length == m.segments.length)
  }

  test("concurrent append + SQL DELETE both land without user-visible failure") {
    val wh = Files.createTempDirectory("rb_del_wh").toString
    spark.conf.set("spark.sql.catalog.rb_del", classOf[HadroCatalog].getName)
    spark.conf.set("spark.sql.catalog.rb_del.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rb_del.db")
    spark.sql("CREATE TABLE rb_del.db.t (id BIGINT, v DOUBLE) USING hadro")
    spark.sql("INSERT INTO rb_del.db.t SELECT id, id * 1.0 FROM range(0, 1000, 1, 2)")

    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def worker(body: => Unit) = new Thread(() =>
      try body catch { case t: Throwable => failures.add(t) })
    val del = worker(spark.sql("DELETE FROM rb_del.db.t WHERE id >= 0 AND id < 100"))
    val app = worker(spark.sql(
      "INSERT INTO rb_del.db.t SELECT id, id * 1.0 FROM range(2000, 2100, 1, 1)"))
    del.start(); app.start(); del.join(); app.join()
    assert(failures.isEmpty, s"concurrent op failed: ${failures.peek()}")
    assert(spark.table("rb_del.db.t").count() == 1000 - 100 + 100)
    assert(spark.table("rb_del.db.t").filter($"id" < 100).count() == 0)
    spark.sql("DROP TABLE rb_del.db.t")
  }

  test("compact racing a dv DELETE: both land, neither resurrects rows") {
    val wh = Files.createTempDirectory("rb_dvc_wh").toString
    spark.conf.set("spark.sql.catalog.rb_dvc", classOf[HadroCatalog].getName)
    spark.conf.set("spark.sql.catalog.rb_dvc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rb_dvc.db")
    spark.sql("CREATE TABLE rb_dvc.db.t (id BIGINT, v DOUBLE) USING hadro")
    spark.sql("INSERT INTO rb_dvc.db.t SELECT id, id * 1.0 FROM range(0, 1000, 1, 2)")
    val dir = java.nio.file.Paths.get(wh, "db", "t")

    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def worker(body: => Unit) = new Thread(() =>
      try body catch { case t: Throwable => failures.add(t) })
    val del = worker {
      spark.conf.set("spark.hadro.delete.mode", "dv")
      try spark.sql("DELETE FROM rb_dvc.db.t WHERE id >= 500 AND id < 550")
      finally spark.conf.unset("spark.hadro.delete.mode")
    }
    val cmp = worker(Collection(spark, dir.toString).compact())
    del.start(); cmp.start(); del.join(); cmp.join()
    assert(failures.isEmpty, s"concurrent op failed: ${failures.peek()}")
    // whichever order the commits serialized in, the deletion must survive
    assert(spark.table("rb_dvc.db.t").count() == 950,
      "a maintenance rewrite resurrected dv-deleted rows")
    assert(spark.table("rb_dvc.db.t").filter($"id" >= 500 && $"id" < 550).count() == 0)
    spark.sql("DROP TABLE rb_dvc.db.t")
  }

  test("corrupt refs/constraints files fail loudly instead of silently disabling") {
    val path = Files.createTempDirectory("corrupt_meta").resolve("c").toString
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val c = Collection.create(spark, path, src)
    c.createTag("keep", -1)
    c.addConstraint("key_ok", "r_regionkey >= 0")

    val meta = java.nio.file.Paths.get(path).resolve("_hadro")
    Files.write(meta.resolve("refs.json"), "not json{".getBytes)
    // GC paths consult refs: a maintenance op must refuse, not un-pin
    val e1 = intercept[IllegalStateException](c.compact())
    assert(e1.getMessage.contains("refs"))
    Files.write(meta.resolve("refs.json"),
      """{"keep":1}""".getBytes) // restore

    Files.write(meta.resolve("constraints.json"), "not json{".getBytes)
    // writes consult constraints: inserting must refuse, not skip checks
    val e2 = intercept[Exception](
      src.limit(1).write.format("hadro").mode("append").save(path))
    assert(e2.getMessage != null)
    Files.delete(meta.resolve("constraints.json"))
    src.limit(1).write.format("hadro").mode("append").save(path)
    assert(c.scan().count() == src.count() + 1)

    // the other fail-loudly slots: reading them as absent would guess,
    // and a raw parser error would not say which file is broken
    val dir = java.nio.file.Paths.get(path)
    Seq[(String, () => Any)](
      "consumers.json" -> (() => CollectionMeta.readConsumers(dir)),
      "branches.json" -> (() => CollectionMeta.readBranches(dir)),
      "ivf-centroids.json" -> (() => graft.ops.SimilarityOps.loadCentroids(dir))
    ).foreach { case (f, read) =>
      Files.write(meta.resolve(f), "not json{".getBytes)
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains(f), e.getMessage)
      Files.delete(meta.resolve(f))
    }
  }

  test("metadata slot files keep their bytes: earlier files decode to " +
      "equal values and today's writers reproduce them") {
    import graft.ops.{SimilarityOps, TextOps}
    val dir = Files.createTempDirectory("golden_slots").resolve("c")
    val meta = CollectionMeta.metaDir(dir)
    val schema = StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("v", StringType)))
    val schemaMeta = CollectionMeta.SchemaMeta(schema, Some("k"), Some("k"),
      Some(4), Some("zstd"), Some("v"), Some("identity"), Seq("days"))
    // (file, bytes as the earlier per-module writers wrote them, value, reader)
    val golden = Seq[(String, String, Any, () => Any)](
      ("schema.json", GoldenSchemaJson, schemaMeta,
        () => CollectionMeta.readSchema(dir).get),
      ("writeorder.json", """{"sortedBy":"v"}""", Some("v"),
        () => CollectionMeta.readWriteOrder(dir)),
      ("constraints.json", """{"c1":"k >= 0","c2":"v IS NOT NULL"}""",
        Map("c1" -> "k >= 0", "c2" -> "v IS NOT NULL"),
        () => CollectionMeta.readConstraints(dir)),
      ("refs.json", """{"t1":1,"b":1}""", Map("t1" -> 1L, "b" -> 1L),
        () => CollectionMeta.readRefs(dir)),
      ("branches.json", """{"b":1}""", Map("b" -> 1L),
        () => CollectionMeta.readBranches(dir)),
      ("consumers.json", """{"cur":"/x/state"}""", Map("cur" -> "/x/state"),
        () => CollectionMeta.readConsumers(dir)),
      ("clone-origin.json", """{"source":"/x/src","version":3}""",
        Some(("/x/src", 3L)), () => CollectionMeta.readCloneOrigin(dir)),
      ("vocab.json", """["a","bc"]""", Some(Seq("a", "bc")),
        () => TextOps.loadVocab(dir)),
      ("ivf-centroids.json", """[{"cid":0,"vec":[0.5,-1.25]},{"cid":1,"vec":[2.0,1.0E-4]}]""",
        Some(Seq((0, Seq(0.5f, -1.25f)), (1, Seq(2.0f, 1.0e-4f)))),
        () => SimilarityOps.loadCentroids(dir)),
      ("pq-codebook.json", "[[[0.5,1.0],[2.0,3.0]],[[-1.0,0.25],[4.0,8.0]]]",
        Some(Seq(Seq(Seq(0.5f, 1.0f), Seq(2.0f, 3.0f)),
          Seq(Seq(-1.0f, 0.25f), Seq(4.0f, 8.0f)))),
        () => SimilarityOps.loadCodebook(dir)),
      ("sq8-params.json", """{"minv":-1.5,"scale":0.01}""", Some((-1.5, 0.01)),
        () => SimilarityOps.loadSqParams(dir)),
      ("dead-1.json", """["x.data","x.bloom"]""", Set("x.data", "x.bloom"),
        () => CollectionMeta.deadListed(dir)),
      // a plain collection's schema: every optional field absent
      ("schema.json", s"""{"sparkSchema":$GoldenStructJson,"priorPartitionTransforms":[]}""",
        CollectionMeta.SchemaMeta(schema, None),
        () => CollectionMeta.readSchema(dir).get))
    Files.createDirectories(meta)
    golden.foreach { case (f, bytes, value, read) =>
      Files.write(meta.resolve(f), bytes.getBytes("UTF-8"))
      assert(read() == value, f)
      Files.delete(meta.resolve(f))
    }
    // the writers reachable without training an index
    CollectionMeta.writeSchema(dir, schemaMeta.schema, schemaMeta.keyField,
      schemaMeta.bucketBy, schemaMeta.numBuckets, schemaMeta.compress,
      schemaMeta.partitionBy, schemaMeta.partitionTransform,
      schemaMeta.priorPartitionTransforms)
    CollectionMeta.writeWriteOrder(dir, Some("v"))
    CollectionMeta.writeConstraints(dir,
      Map("c1" -> "k >= 0", "c2" -> "v IS NOT NULL"))
    CollectionMeta.commit(dir, _.copy(segments = Nil))
    CollectionMeta.setRef(dir, "t1", 1L)
    CollectionMeta.createBranch(dir, "b", 1L)
    CollectionMeta.registerConsumer(dir, "cur", "/x/state")
    CollectionMeta.writeCloneOrigin(dir, java.nio.file.Paths.get("/x/src"), 3L)
    TextOps.saveVocab(dir, Seq("a", "bc"))
    golden.take(8).foreach { case (f, bytes, _, _) =>
      assert(new String(Files.readAllBytes(meta.resolve(f)), "UTF-8") == bytes, f)
    }
  }

  private val GoldenStructJson = """{"type":"struct","fields":[""" +
    """{"name":"k","type":"long","nullable":false,"metadata":{}},""" +
    """{"name":"v","type":"string","nullable":true,"metadata":{}}]}"""
  /** schema.json as written for the golden check's SchemaMeta (json4s
    * renders the 8-entry map in hash order). */
  private val GoldenSchemaJson = s"""{"sparkSchema":$GoldenStructJson,""" +
    """"partitionTransform":"identity","partitionBy":"v","keyField":"k",""" +
    """"compress":"zstd","numBuckets":4,"bucketBy":"k",""" +
    """"priorPartitionTransforms":["days"]}"""

  test("torn writes are invisible: only manifest-committed segments are scanned") {
    val path = Files.createTempDirectory("torn").resolve("c").toString
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    Collection.create(spark, path, src, numSegments = 2)
    // a crashed writer's leftover: a garbage partial segment file that never
    // reached manifest commit — scans are manifest-driven, so it is inert
    Files.write(java.nio.file.Paths.get(path).resolve("data-99999-0-crashed.data"),
      Array.fill[Byte](137)(0x5a))
    assert(spark.read.format("hadro").load(path).count() == src.count())
  }

  test("corruption of a committed segment fails loudly, not with partial data") {
    val path = Files.createTempDirectory("corrupt").resolve("c").toString
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    Collection.create(spark, path, src)
    val seg = CollectionMeta.currentManifest(java.nio.file.Paths.get(path))
      .segments.head.file
    val f = java.nio.file.Paths.get(path).resolve(seg)
    // truncate mid-record: the reader must raise, never silently return a prefix
    val chan = java.nio.channels.FileChannel.open(f, java.nio.file.StandardOpenOption.WRITE)
    try chan.truncate(Files.size(f) - 3) finally chan.close()
    // count() alone is now answered from the manifest (aggregate pushdown)
    // and never opens the file — like parquet metadata counts, corruption
    // surfaces on DATA reads, so force one with collect().
    val e = intercept[Exception] {
      spark.read.format("hadro").load(path).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(c => c.isInstanceOf[java.io.EOFException] ||
      Option(c.getMessage).exists(_.contains("truncated"))), s"unexpected: $e")
  }

  test("manifest commit survives high contention without lost updates " +
      "(under BOTH FileIO impls)") {
    // Regression for a silent lost update: the commit's publish rename must
    // be ATOMIC_MOVE — the non-atomic move deletes the claimed version file
    // before renaming, letting a concurrent committer claim the same slot.
    // Run under POSIX semantics AND the object-store emulation (conditional
    // PUT instead of rename): the claim-if-absent protocol must hold under
    // the same interleavings on both.
    underEachFileIO { io =>
      (1 to 10).foreach { trial =>
        val dir = Files.createTempDirectory(s"contend$io$trial").resolve("c")
        Files.createDirectories(dir)
        val threads = (1 to 8).map { t =>
          new Thread(() => {
            CollectionMeta.commit(dir, cur => cur.copy(segments = cur.segments :+
              graft.meta.SegmentInfo(s"seg-$t.data", cur.nextOrdinal, 1, 0, 10, Map.empty)))
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        val m = CollectionMeta.currentManifest(dir)
        assert(m.segments.size == 8,
          s"[$io] trial $trial lost ${8 - m.segments.size} commits (v${m.version})")
        assert(m.version == 8, s"[$io]")
        assert(m.segments.map(_.ordinal).distinct.size == 8, s"[$io]")
      }
    }
  }

  test("commit declines atomically when the closure sees its work already done") {
    // The zombie-driver scenario: decide-then-commit must be one atomic
    // step. A competing committer lands between our manifest read and our
    // publish; the commit retry re-evaluates the closure against the new
    // state, the closure declines (returns its input unchanged), and no
    // duplicate version is published.
    val dir = Files.createTempDirectory("atomic_commit").resolve("c")
    Seq((1, "a")).toDF("k", "v").write.format("hadro").mode("append").save(dir.toString)
    val v0 = CollectionMeta.currentManifest(dir).version
    var evals = 0
    val out = CollectionMeta.commit(dir, m => {
      evals += 1
      if (evals == 1) // competitor wins the slot inside our read/publish window
        CollectionMeta.commit(dir, m2 =>
          m2.copy(streamEpochs = m2.streamEpochs + ("q" -> 7L)))
      if (m.streamEpochs.get("q").exists(_ >= 7L)) m // replay: decline
      else m.copy(streamEpochs = m.streamEpochs + ("q" -> 7L))
    })
    assert(evals >= 2, "losing committer must re-evaluate against the winner's state")
    assert(out.version == v0 + 1, "declined commit must not publish a version")
    assert(out.streamEpochs("q") == 7L)
  }

  test("delete-and-recreate at the same path reads the NEW collection " +
      "(manifest parse cache must not serve the dead incarnation)") {
    val dir = java.nio.file.Files.createTempDirectory("reincarnate")
      .resolve("c")
    def build(tag: String): Unit = {
      // same path, same row count, same version numbers — only content
      // and segment file names differ, exactly the bench-fixture rebuild
      (1 to 3).foreach { i =>
        Seq(s"$tag-$i").toDF("v").coalesce(1)
          .write.format("hadro")
          .mode(if (i == 1) "overwrite" else "append").save(dir.toString)
      }
    }
    build("alpha")
    // read (populates any cache), then kill and rebuild the whole path
    assert(spark.read.format("hadro").load(dir.toString).count() == 3)
    def rmrf(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        graft.meta.CollectionMeta.listDir(p).foreach(rmrf)
      java.nio.file.Files.deleteIfExists(p)
    }
    rmrf(dir)
    build("bravo")
    val got = spark.read.format("hadro").load(dir.toString)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("bravo-1", "bravo-2", "bravo-3"),
      s"stale manifest cache across reincarnation: $got")
    // point accessor path too (Collection API plans from the same cache)
    assert(graft.api.Collection(spark, dir.toString).count() == 3)
  }

  test("metadata directory listings do not leak file descriptors") {
    val dir = Files.createTempDirectory("fd_leak").resolve("c")
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.format("hadro").mode("append").save(dir.toString)
    def openFds(): Long = {
      val s = Files.list(java.nio.file.Paths.get("/proc/self/fd"))
      try s.count() finally s.close()
    }
    val before = openFds()
    (1 to 300).foreach { _ =>
      CollectionMeta.currentManifest(dir)
      CollectionMeta.purgeDeferred(dir, Set.empty)
    }
    val after = openFds()
    assert(after - before < 50L, s"fd leak under metadata churn: $before -> $after")
  }
}
