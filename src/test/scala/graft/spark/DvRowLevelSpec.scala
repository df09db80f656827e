package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.api.Collection
import graft.meta.{CollectionMeta, CommitConflictException}

/** Merge-on-read row-level ops via the deletion-vector DELTA operation
  * (non-keyed collections, `spark.hadro.{delete,update,merge}.mode=dv`):
  * arbitrary predicates — including ones `canDeleteWhere` cannot push —
  * stay O(matched rows) instead of silently downgrading to copy-on-write,
  * and partial-rewrite commits no longer destroy manifest history, so
  * rollback/time-travel survive row-level ops. */
class DvRowLevelSpec extends SparkSuite {
  import spark.implicits._

  private def withMode[A](cmd: String)(body: => A): A = {
    spark.conf.set(s"spark.hadro.$cmd.mode", "dv")
    try body finally spark.conf.unset(s"spark.hadro.$cmd.mode")
  }

  private def catalogTable(name: String): java.nio.file.Path = {
    val wh = Files.createTempDirectory("dvrlo_wh").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[HadroCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    java.nio.file.Paths.get(wh, "db", "t")
  }

  test("dv DELETE with a non-pushable predicate stays merge-on-read") {
    val dir = catalogTable("dvrlo1")
    spark.sql("CREATE TABLE dvrlo1.db.t (id BIGINT, v DOUBLE) USING hadro")
    spark.sql("INSERT INTO dvrlo1.db.t SELECT id, id * 1.0 FROM range(0, 500, 1, 4)")
    val before = CollectionMeta.currentManifest(dir)

    // `%` fails V1 translation -> canDeleteWhere declines -> row-level path;
    // dv mode must produce vectors there too, NOT a CoW rewrite
    withMode("delete") { spark.sql("DELETE FROM dvrlo1.db.t WHERE id % 2 = 0") }

    val after = CollectionMeta.currentManifest(dir)
    assert(after.segments.map(_.file) == before.segments.map(_.file),
      "dv row-level delete must not rewrite segment files")
    assert(after.segments.forall(_.deleteVector.isDefined))
    assert(after.segments.map(_.dvDeletes).sum == 250L)
    assert(after.generation == before.generation, "no generation bump: not a rewrite")
    assert(!after.mutated)

    assert(spark.table("dvrlo1.db.t").count() == 250)
    assert(spark.table("dvrlo1.db.t").filter($"id" % 2 === 0).count() == 0)
    // idempotent: hidden rows cannot re-match
    withMode("delete") { spark.sql("DELETE FROM dvrlo1.db.t WHERE id % 2 = 0") }
    assert(CollectionMeta.currentManifest(dir).segments.map(_.dvDeletes).sum == 250L)
    spark.sql("DROP TABLE dvrlo1.db.t")
  }

  test("second dv row-level delete unions with the first") {
    val dir = catalogTable("dvrlo2")
    spark.sql("CREATE TABLE dvrlo2.db.t (id BIGINT, v DOUBLE) USING hadro")
    spark.sql("INSERT INTO dvrlo2.db.t SELECT id, id * 1.0 FROM range(0, 300, 1, 2)")
    withMode("delete") {
      spark.sql("DELETE FROM dvrlo2.db.t WHERE id % 3 = 0") // 100 rows
      spark.sql("DELETE FROM dvrlo2.db.t WHERE id % 5 = 0") // 60 - 20 overlap = 40 new
    }
    val m = CollectionMeta.currentManifest(dir)
    assert(m.segments.map(_.dvDeletes).sum == 140L)
    assert(spark.table("dvrlo2.db.t").count() == 160)
    spark.sql("DROP TABLE dvrlo2.db.t")
  }

  test("merge-on-read UPDATE: vectors old positions, appends new rows") {
    val dir = catalogTable("dvrlo3")
    spark.sql("CREATE TABLE dvrlo3.db.t (id BIGINT, v DOUBLE) USING hadro")
    spark.sql("INSERT INTO dvrlo3.db.t SELECT id, id * 1.0 FROM range(0, 400, 1, 4)")
    val before = CollectionMeta.currentManifest(dir)

    withMode("update") {
      spark.sql("UPDATE dvrlo3.db.t SET v = v + 1000 WHERE id % 7 = 0")
    }
    val after = CollectionMeta.currentManifest(dir)
    val matched = (0L until 400L).count(_ % 7 == 0)
    // original files untouched, with vectors; new appended segment(s) carry
    // the re-inserts
    val origAfter = after.segments.filter(s => before.segments.exists(_.file == s.file))
    assert(origAfter.map(_.file) == before.segments.map(_.file))
    assert(origAfter.map(_.dvDeletes).sum == matched.toLong)
    val appended = after.segments.filterNot(s => before.segments.exists(_.file == s.file))
    assert(appended.nonEmpty && appended.map(_.rows).sum == matched.toLong)

    val t = spark.table("dvrlo3.db.t")
    assert(t.count() == 400)
    assert(t.filter($"id" % 7 === 0 && $"v" === $"id" + 1000.0).count() == matched)
    assert(t.filter($"id" % 7 =!= 0 && $"v" =!= $"id" * 1.0).count() == 0)
    spark.sql("DROP TABLE dvrlo3.db.t")
  }

  test("merge-on-read MERGE: update + insert + delete branches land in one commit") {
    val dir = catalogTable("dvrlo4")
    spark.sql("CREATE TABLE dvrlo4.db.t (id BIGINT, v DOUBLE) USING hadro")
    spark.sql("INSERT INTO dvrlo4.db.t SELECT id, id * 1.0 FROM range(0, 200, 1, 2)")
    val before = CollectionMeta.currentManifest(dir)
    spark.range(150, 250).select($"id", lit(-5.0).as("v"))
      .createOrReplaceTempView("dvrlo4_src")

    withMode("merge") {
      spark.sql("""MERGE INTO dvrlo4.db.t t USING dvrlo4_src s ON t.id = s.id
        WHEN MATCHED AND t.id % 2 = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    }
    val after = CollectionMeta.currentManifest(dir)
    assert(after.version == before.version + 1, "one manifest commit")
    assert(after.segments.filter(s => before.segments.exists(_.file == s.file))
      .map(_.file) == before.segments.map(_.file), "no rewrite of original files")

    // matched 150..199: evens deleted (25), odds updated to -5; 200..249 inserted
    val t = spark.table("dvrlo4.db.t")
    assert(t.count() == 200 - 25 + 50)
    assert(t.filter($"id" >= 150 && $"id" < 200).count() == 25)
    assert(t.filter($"id" >= 150 && $"id" < 200 && $"v" === -5.0).count() == 25)
    assert(t.filter($"id" >= 200 && $"v" === -5.0).count() == 50)
    spark.sql("DROP TABLE dvrlo4.db.t")
  }

  test("rollback across a dv row-level delete resurrects vectored rows") {
    val dir = catalogTable("dvrlo5")
    spark.sql("CREATE TABLE dvrlo5.db.t (id BIGINT, v DOUBLE) USING hadro")
    spark.sql("INSERT INTO dvrlo5.db.t SELECT id, id * 1.0 FROM range(0, 100, 1, 1)")
    val good = Collection(spark, dir.toString).version
    withMode("delete") { spark.sql("DELETE FROM dvrlo5.db.t WHERE id % 2 = 0") }
    assert(spark.table("dvrlo5.db.t").count() == 50)
    Collection(spark, dir.toString).restoreVersion(good)
    assert(spark.table("dvrlo5.db.t").count() == 100)
    spark.sql("DROP TABLE dvrlo5.db.t")
  }

  test("rollback and pinned readers survive a CoW delete (manifest retention)") {
    val dir = catalogTable("dvrlo6")
    spark.sql("CREATE TABLE dvrlo6.db.t (id BIGINT, v DOUBLE) USING hadro")
    spark.sql("INSERT INTO dvrlo6.db.t SELECT id, id * 1.0 FROM range(0, 120, 1, 2)")
    val good = Collection(spark, dir.toString).version

    // default mode: pushable predicate -> copy-on-write replace commit
    spark.sql("DELETE FROM dvrlo6.db.t WHERE id >= 100")
    assert(spark.table("dvrlo6.db.t").count() == 100)

    // a reader pinned to the pre-rewrite version still plans: the replaced
    // files live one deferred-GC generation
    val pinned = spark.read.option("hadro.versionAsOf", good)
      .format("hadro").load(dir.toString)
    assert(pinned.count() == 120)

    // rollback to the pre-rewrite version — the h49 shape
    Collection(spark, dir.toString).restoreVersion(good)
    assert(spark.table("dvrlo6.db.t").count() == 120)
    // restored head is writable
    spark.sql("INSERT INTO dvrlo6.db.t VALUES (999, 9.9)")
    assert(spark.table("dvrlo6.db.t").count() == 121)
    spark.sql("DROP TABLE dvrlo6.db.t")
  }

  test("rlo dv deletes racing a compaction stay atomic — no resurrection, no silent loss") {
    // The rlo dv commit has NO statement-level retry (the bitmaps derive
    // from the completed scan job): a conflicting compaction aborts the
    // statement with the documented conflict error. What must hold under
    // the race: every statement that REPORTED success has all its rows
    // gone; every failed statement changed nothing (atomic-none); nothing
    // the compaction folded in comes back.
    val dir = catalogTable("dvrlo8")
    spark.sql("CREATE TABLE dvrlo8.db.t (id BIGINT, v DOUBLE) USING hadro")
    spark.sql("INSERT INTO dvrlo8.db.t SELECT id, id * 1.0 FROM range(0, 500, 1, 2)")

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val outcomes = withMode("delete") {
      val deletes = (0 until 4).map { k => Future {
        try { spark.sql(s"DELETE FROM dvrlo8.db.t WHERE id % 4 = $k"); (k, true) }
        catch { case e: Exception if CommitConflictException.isConflict(e) => (k, false) }
      }}
      val compactor = Future {
        try graft.api.Collection(spark, dir.toString).compact()
        catch { case _: Exception => () } // its own conflict handling
      }
      val r = Await.result(Future.sequence(deletes), 180.seconds)
      Await.result(compactor, 180.seconds)
      r
    }
    val remaining = spark.table("dvrlo8.db.t")
    outcomes.foreach { case (k, ok) =>
      val left = remaining.filter($"id" % 4 === k).count()
      if (ok) assert(left == 0, s"delete of id%4=$k reported success but $left rows remain")
      else assert(left == 125, s"failed delete of id%4=$k must change nothing, $left left")
    }
    val expected = 500 - outcomes.count(_._2) * 125
    assert(remaining.count() == expected)
    spark.sql("DROP TABLE dvrlo8.db.t")
  }

  test("vacuum sweeps AGED orphan dv sidecars, keeps fresh and referenced ones") {
    val dir = catalogTable("dvrlo9")
    spark.sql("CREATE TABLE dvrlo9.db.t (id BIGINT, v DOUBLE) USING hadro")
    spark.sql("INSERT INTO dvrlo9.db.t SELECT id, id * 1.0 FROM range(0, 100, 1, 1)")
    withMode("delete") { spark.sql("DELETE FROM dvrlo9.db.t WHERE id % 3 = 0") }
    val referenced = CollectionMeta.currentManifest(dir)
      .segments.flatMap(_.deleteVector)
    assert(referenced.nonEmpty)

    // plant two orphans: one aged (crashed commit long ago), one fresh
    // (a statement that may be mid-commit right now)
    val aged = dir.resolve("data-zzz.data.dv-dead.dv")
    val fresh = dir.resolve("data-zzz.data.dv-inflight.dv")
    Files.write(aged, Array[Byte](1, 2, 3))
    Files.write(fresh, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(aged, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000))

    Collection(spark, dir.toString).vacuum()
    assert(!Files.exists(aged), "aged orphan dv must be swept")
    assert(Files.exists(fresh), "fresh orphan may be an in-flight commit — kept")
    referenced.foreach(n => assert(Files.exists(dir.resolve(n)),
      "manifest-referenced dv must survive vacuum"))
    assert(spark.table("dvrlo9.db.t").count() == 66)
    spark.sql("DROP TABLE dvrlo9.db.t")
  }

  test("dv-mode UPDATE falls back to CoW only when the conf says cow") {
    // sanity: WITHOUT the conf, non-keyed UPDATE keeps the CoW shape
    // (generation bump, files replaced) — the dv path is strictly opt-in
    val dir = catalogTable("dvrlo7")
    spark.sql("CREATE TABLE dvrlo7.db.t (id BIGINT, v DOUBLE) USING hadro")
    spark.sql("INSERT INTO dvrlo7.db.t SELECT id, id * 1.0 FROM range(0, 100, 1, 1)")
    val before = CollectionMeta.currentManifest(dir)
    spark.sql("UPDATE dvrlo7.db.t SET v = 0.0 WHERE id < 10")
    val after = CollectionMeta.currentManifest(dir)
    assert(after.generation == before.generation + 1, "CoW rewrite bumps generation")
    assert(after.segments.forall(_.dvDeletes == 0L))
    assert(spark.table("dvrlo7.db.t").filter($"v" === 0.0).count() == 10)
    spark.sql("DROP TABLE dvrlo7.db.t")
  }
}
