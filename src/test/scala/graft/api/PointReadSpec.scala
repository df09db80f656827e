package graft.api

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.meta.CollectionMeta
import graft.spark.HadroDeleteSupport

/** Keyed point reads (`get`/`multiGet`/`contains`) through the key→offset
  * index on the driver: the same rows as the lazy resolved-view filter on
  * every collection shape, no Spark job on the point path, and the lazy
  * plan exactly where the point path does not apply. */
class PointReadSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"pr_$name").resolve("c").toString

  private def base(n: Int = 200) =
    (0 until n).map(i => (i.toLong, s"v$i", i)).toDF("k", "s", "n")

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  private def isBatchScan(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b }.isDefined

  private def sameAs(got: DataFrame, expected: DataFrame, what: String): Unit = {
    assert(got.schema == expected.schema, s"$what: schema ${got.schema.simpleString}")
    assert(rowsOf(got) == rowsOf(expected), s"$what: ${rowsOf(got)} vs ${rowsOf(expected)}")
  }

  /** get/multiGet equal the resolved-view filter for every probe key
    * (present, shadowed, deleted and absent), and take the point path
    * iff `point` (unchecked when None). */
  private def checkEquivalent(c: Collection, probes: Seq[Any],
      point: Option[Boolean] = Some(true)): Unit = {
    val k = c.keyField.get
    probes.foreach { v =>
      val got = c.get(v)
      sameAs(got, c.toDF().filter(col(k) === lit(v)), s"get($v)")
      point.foreach(p => assert(isLocal(got) == p, s"get($v): point path expected $p"))
      assert(c.contains(v) == !c.toDF().filter(col(k) === lit(v)).isEmpty)
    }
    val mg = c.multiGet(probes: _*)
    sameAs(mg, c.toDF().filter(col(k).isin(probes: _*)), s"multiGet(${probes.mkString(",")})")
    point.foreach(p => assert(isLocal(mg) == p, s"multiGet: point path expected $p"))
  }

  private val probes: Seq[Any] = Seq(0L, 3L, 7L, 10L, 42L, 77L, 150L, 199L, 500L)

  test("mutated collection: LWW over upserts and tombstones") {
    val c = Collection.create(spark, tmp("mut"), base(), key = Some("k"), numSegments = 4)
    c.set(Seq((3L, "x1", -1), (42L, "x1", -1)).toDF("k", "s", "n"))
    c.set(Seq((3L, "x2", -2), (150L, "x2", -2)).toDF("k", "s", "n"))
    c.delete(Seq(7L, 150L).toDF("k"))
    c.set(Seq((7L, "back", -3)).toDF("k", "s", "n")) // delete, then re-set
    checkEquivalent(c, probes)
    assert(c.get(3L).as[(Long, String, Int)].collect().toSeq == Seq((3L, "x2", -2)))
    assert(c.get(150L).isEmpty && c.get(7L).count() == 1)
  }

  test("never-mutated collection returns every duplicate of a key") {
    val c = Collection.create(spark, tmp("dup"), base(), key = Some("k"), numSegments = 4)
    c.append(Seq((3L, "again", 1), (3L, "thrice", 2), (500L, "new", 3)).toDF("k", "s", "n"))
    assert(!CollectionMeta.currentManifest(Paths.get(c.path)).mutated)
    checkEquivalent(c, probes)
    assert(c.get(3L).count() == 3)
  }

  test("tombstoned collection hides deleted keys") {
    val c = Collection.create(spark, tmp("tomb"), base(), key = Some("k"), numSegments = 4)
    c.delete(0L, 10L, 199L)
    checkEquivalent(c, probes)
    assert(!c.contains(10L) && c.contains(42L))
  }

  test("deletion-vector deletes hide rows on both resolution paths") {
    spark.conf.set("spark.hadro.delete.mode", "dv")
    try {
      val plain = Collection.create(spark, tmp("dv"), base(), key = Some("k"), numSegments = 4)
      HadroDeleteSupport.dvDeleteWhere(Paths.get(plain.path), col("n") % 7 === 0)
      val m = CollectionMeta.currentManifest(Paths.get(plain.path))
      assert(m.segments.exists(_.deleteVector.isDefined) && !m.mutated)
      checkEquivalent(plain, probes)
      assert(plain.get(7L).isEmpty && plain.get(42L).isEmpty && plain.contains(10L))

      val mutated = Collection.create(spark, tmp("dvmut"), base(), key = Some("k"), numSegments = 4)
      mutated.set(Seq((3L, "x", -1), (10L, "x", -1)).toDF("k", "s", "n"))
      HadroDeleteSupport.dvDeleteWhere(Paths.get(mutated.path), col("s") === "x" && col("k") === 10L)
      checkEquivalent(mutated, probes)
      // the dv-hidden upsert no longer shadows the base version
      assert(mutated.get(10L).as[(Long, String, Int)].head() == ((10L, "v10", 10)))
    } finally spark.conf.unset("spark.hadro.delete.mode")
  }

  test("zstd-compressed segments decode through the point path") {
    val path = tmp("zstd")
    base().repartition(4).write.format("hadro").mode("append")
      .option("hadro.key", "k").option("hadro.compress", "zstd").save(path)
    val c = Collection(spark, path)
    c.set(Seq((42L, "z", 0)).toDF("k", "s", "n"))
    val point = CollectionMeta.currentManifest(Paths.get(path)).segments
      .forall(_.offsetIndex.isDefined)
    checkEquivalent(c, probes, Some(point))
    assert(c.get(42L).select($"s").as[String].head() == "z")
  }

  test("addColumn: older segments read the back-filled default") {
    val c = Collection.create(spark, tmp("add"), base(), key = Some("k"), numSegments = 4)
    c.addColumn("tag", StringType, Some("'old'"))
    c.set(Seq((42L, "y", 1, "new")).toDF("k", "s", "n", "tag"))
    checkEquivalent(c, probes)
    assert(c.get(3L).select($"tag").as[String].head() == "old")
    assert(c.get(42L).select($"tag").as[String].head() == "new")
  }

  test("type-widened column reads at its current type") {
    val c = Collection.create(spark, tmp("widen"), base(), key = Some("k"), numSegments = 4)
    c.widenColumn("n", LongType)
    c.set(Seq((42L, "w", 1L << 40)).toDF("k", "s", "n"))
    checkEquivalent(c, probes)
    assert(c.get(3L).schema("n").dataType == LongType)
    assert(c.get(3L).select($"n").as[Long].head() == 3L)
    assert(c.get(42L).select($"n").as[Long].head() == (1L << 40))
  }

  test("hadro.offsetIndex=false falls back to the lazy BatchScan plan") {
    val path = tmp("noidx")
    base().repartition(4).write.format("hadro").mode("append")
      .option("hadro.key", "k").option("hadro.offsetIndex", "false").save(path)
    val c = Collection(spark, path)
    c.set(Seq((42L, "u", 0)).toDF("k", "s", "n"))
    // keys in the index-less segments keep the lazy plan; a key only the
    // indexed upsert segment can hold still takes the point path
    checkEquivalent(c, probes, None)
    assert(isBatchScan(c.get(42L)) && isBatchScan(c.multiGet(3L, 42L)))
    assert(isLocal(c.get(500L)))
  }

  test("edge inputs: no keys, null keys, Int on a Long key, too many keys") {
    val c = Collection.create(spark, tmp("edge"), base(), key = Some("k"), numSegments = 4)
    c.set(Seq((5L, "e", 0)).toDF("k", "s", "n"))
    // no keys
    sameAs(c.multiGet(), c.toDF().filter(col("k").isin()), "multiGet()")
    assert(isLocal(c.multiGet()))
    // null keys match nothing, and do not hide the other keys
    sameAs(c.get(null), c.toDF().filter(col("k") === lit(null)), "get(null)")
    sameAs(c.multiGet(5L, null), c.toDF().filter(col("k").isin(5L, null)),
      "multiGet(5, null)")
    assert(c.multiGet(5L, null).count() == 1)
    // Int widens to the Long key exactly like ===
    sameAs(c.get(5), c.toDF().filter(col("k") === lit(5)), "get(Int)")
    assert(isLocal(c.get(5)))
    sameAs(c.multiGet(5, 6L), c.toDF().filter(col("k").isin(5, 6L)), "multiGet(Int, Long)")
    // a value that does not convert exactly keeps the lazy plan
    sameAs(c.get("5"), c.toDF().filter(col("k") === lit("5")), "get(String)")
    assert(isBatchScan(c.get("5")))
    // more than MaxKeyPushdown keys keeps the lazy plan
    val many = (0L to Collection.MaxKeyPushdown.toLong).map(x => x: Any)
    val wide = c.multiGet(many: _*)
    assert(isBatchScan(wide))
    sameAs(wide, c.toDF().filter(col("k").isin(many: _*)), "multiGet(1001 keys)")
    assert(isLocal(c.multiGet(many.take(Collection.MaxKeyPushdown): _*)))
  }

  test("the point path runs no Spark job") {
    val c = Collection.create(spark, tmp("jobs"), base(), key = Some("k"), numSegments = 4)
    c.set(Seq((3L, "j", 0)).toDF("k", "s", "n"))
    c.delete(10L)
    val (_, jobs) = countJobs {
      assert(c.get(3L).collect().length == 1)
      assert(c.get(5L).head().getLong(0) == 5L)
      assert(c.get(10L).isEmpty)
      assert(c.contains(42L) && !c.contains(10L))
      assert(c.get(999L, Row(-1L, "default", -1)).getString(1) == "default")
      assert(c.multiGet(1L, 2L, 3L, 10L).collect().length == 3)
    }
    assert(jobs == 0, s"point reads started $jobs Spark jobs")
    // count() aggregates the local rows in a Spark job, but reads no
    // segment: the frame's plan holds no scan
    assert(c.get(4L).count() == 1 && !isBatchScan(c.get(4L)))
    // sanity: the counter does count the lazy plan's jobs
    val (_, lazyJobs) = countJobs(c.toDF().filter(col("k") === 3L).collect())
    assert(lazyJobs > 0)
  }

  test("a write committed before the call is always visible") {
    val c = Collection.create(spark, tmp("fresh"), base(50), key = Some("k"), numSegments = 2)
    (1 to 5).foreach { i =>
      c.set(Seq((7L, s"r$i", i)).toDF("k", "s", "n"))
      assert(c.get(7L).select($"s").as[String].collect().toSeq == Seq(s"r$i"))
      c.append(Seq((1000L + i, "a", i)).toDF("k", "s", "n"))
      assert(c.contains(1000L + i))
      c.delete(7L)
      assert(!c.contains(7L))
      if (i % 2 == 0) c.compactSmall(1L << 30)
    }
  }

  test("unkeyed collections reject keyed reads and deletes with the same error") {
    val c = Collection.create(spark, tmp("unkeyed"), base(10))
    def msg(f: => Any): String = intercept[IllegalArgumentException](f).getMessage
    assert(msg(c.get(1L)).contains("requires a keyed collection"))
    assert(msg(c.multiGet(1L, 2L)).contains("requires a keyed collection"))
    assert(msg(c.delete(1L, 2L)).contains("requires a keyed collection"))
    assert(msg(c.delete(Seq(1L).toDF("k"))).contains("requires a keyed collection"))
  }
}
