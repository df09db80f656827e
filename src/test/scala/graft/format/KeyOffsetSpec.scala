package graft.format

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSuite
import graft.api.Collection
import graft.meta.CollectionMeta
import graft.spark.{HadroInputPartition, HadroScanBuilder, HadroTable, PointBatchPartition}

/** Persisted key→offset index: point lookups plan single-record scan
  * ranges — bytes read proportional to matches, not to segments — and
  * `get`/`multiGet` read them on the driver, with no Spark job. */
class KeyOffsetSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"koff_$name").resolve("c").toString

  /** (records planned, records read) by a scan with `f` pushed: every
    * planned partition must be a single-record range or a point batch. */
  private def pointScan(path: String, f: Filter): (Int, Int) = {
    val p = Paths.get(path)
    val schema = HadroTable.reportedSchema(CollectionMeta.readSchema(p).get)
    val b = new HadroTable(p, schema).newScanBuilder(
      new CaseInsensitiveStringMap(java.util.Map.of("path", path)))
      .asInstanceOf[HadroScanBuilder]
    b.pushFilters(Array(f))
    val batch = b.build().toBatch
    val parts = batch.planInputPartitions()
    val planned = parts.map {
      case r: HadroInputPartition =>
        assert(r.endOffset == r.startOffset + 1, s"not a single-record range: $r"); 1
      case pb: PointBatchPartition => pb.points.size
      case other => fail(s"not a point partition: $other")
    }.sum
    val factory = batch.createReaderFactory()
    val read = parts.map { part =>
      val r = factory.createReader(part)
      try Iterator.continually(r.next()).takeWhile(identity).size finally r.close()
    }.sum
    (planned, read)
  }

  test("index round-trips and over-returns only on equal hashes") {
    val entries = Seq((5L, 100L, 0L), (3L, 50L, 1L), (5L, 200L, 2L), (9L, 300L, 3L))
    val f = Files.createTempDirectory("koff").resolve("x.koff")
    KeyOffsetIndex.fromEntries(entries).writeTo(f)
    val idx = KeyOffsetIndex.readFrom(f).get
    assert(idx.size == 4)
    assert(idx.lookupHash(5L).toSet == Set((100L, 0L), (200L, 2L)))
    assert(idx.lookupHash(3L) == Seq((50L, 1L)))
    assert(idx.lookupHash(7L).isEmpty)
  }

  test("point get plans exactly the matching records, not segments") {
    val path = tmp("get")
    val src = spark.read.parquet(s"$sf0001/customer.parquet")
    val c = Collection.create(spark, path, src, key = Some("c_custkey"), numSegments = 8)
    val m = CollectionMeta.currentManifest(java.nio.file.Paths.get(path))
    assert(m.segments.forall(_.offsetIndex.isDefined))

    // one key version exists => exactly one record planned and read;
    // multiGet: exactly the three matching records
    assert(pointScan(path, EqualTo("c_custkey", 42L)) == ((1, 1)))
    assert(pointScan(path, In("c_custkey", Array[Any](1L, 2L, 3L))) == ((3, 3)))
    // ...and the driver reads them itself: no Spark job
    val ((got, n), jobs) = countJobs {
      (c.get(42L).select($"c_custkey").as[Long].collect().toSeq,
        c.multiGet(1L, 2L, 3L).collect().length)
    }
    assert(got == Seq(42L) && n == 3)
    assert(jobs == 0, s"point reads started $jobs Spark jobs")
  }

  test("upserted keys read one record per version and resolve LWW") {
    val path = tmp("lww")
    val src = spark.read.parquet(s"$sf0001/nation.parquet")
    val c = Collection.create(spark, path, src, key = Some("n_nationkey"))
    c.set(src.filter($"n_nationkey" === 7).withColumn("n_name", lit("NEW")))
    val q = c.get(7)
    assert(q.select($"n_name").as[String].head() == "NEW")
    // the LWW read plans ONE single-record range per version of the key
    // (q.rdd reflects the post-window shuffle, so assert at planner level)
    val p = java.nio.file.Paths.get(path)
    val m = CollectionMeta.currentManifest(p)
    val schema = CollectionMeta.readSchema(p).get.schema
    val filters: Array[org.apache.spark.sql.sources.Filter] =
      Array(org.apache.spark.sql.sources.EqualTo("n_nationkey", 7))
    val ranges = m.segments.flatMap(s =>
      graft.spark.OffsetIndexPlanner.pointRanges(p, s, filters, schema).get)
    assert(ranges.size == 2, s"expected base + upsert record ranges, got $ranges")
  }

  test("tombstoned keys resolve to empty through the point-lookup path") {
    val path = tmp("del")
    val src = spark.read.parquet(s"$sf0001/nation.parquet")
    val c = Collection.create(spark, path, src, key = Some("n_nationkey"), numSegments = 4)
    c.delete(9)
    // the tombstone's key IS in the index (the lookup must see the delete)
    assert(c.get(9).isEmpty)
    assert(!c.contains(9))
    assert(c.count() == src.count() - 1)
    // un-deleted neighbors unaffected
    assert(c.get(8).count() == 1)
  }

  test("hadro.offsetIndex=off falls back to full-segment scanning") {
    val path = tmp("off")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    src.write.format("hadro").mode("append")
      .option("hadro.key", "r_regionkey").option("hadro.offsetIndex", "false")
      .save(path)
    val m = CollectionMeta.currentManifest(java.nio.file.Paths.get(path))
    assert(m.segments.forall(_.offsetIndex.isEmpty))
    val c = Collection(spark, path)
    assert(c.get(2).select($"r_regionkey").as[Int].head() == 2)
  }

  test("segment splitting and the offset index compose") {
    val path = tmp("split")
    val src = spark.read.parquet(s"$sf0001/part.parquet")
    src.coalesce(1).write.format("hadro").mode("append")
      .option("hadro.key", "p_partkey").option("hadro.splitBytes", 2 * 1024)
      .save(path)
    val c = Collection(spark, path)
    val full = spark.read.format("hadro").load(path)
    assert(full.rdd.getNumPartitions > 1) // split ranges for full scans
    // but a point get plans and reads ONE record, with no Spark job
    assert(pointScan(path, EqualTo("p_partkey", 5L)) == ((1, 1)))
    val (got, jobs) = countJobs(c.get(5L).select($"p_partkey").as[Long].collect().toSeq)
    assert(got == Seq(5L) && jobs == 0)
  }
}
