package graft.meta

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import graft.api.Collection

/** The FileIO seam proven against OBJECT-STORE semantics: every scenario
  * here runs with [[FileIO.impl]] swapped to [[ObjectStoreFileIO]] —
  * no rename, no hard link, no flock anywhere under the protocol. If the
  * commit/refs/branch machinery had a hidden POSIX assumption (an
  * empty-claim window, a rename-fills-the-slot dependency, flock
  * re-entrancy), these are the tests that would catch it; green means
  * ARCHITECTURE.md's S3 mapping table describes a protocol that is
  * seam-shaped, not rename-shaped. Suites run sequentially in the forked
  * test JVM (no testForkedParallel), so the scoped global swap is safe. */
class ObjectStoreFileIOSpec extends SparkSuite {
  import spark.implicits._

  private def withObjectStore[T](body: => T): T = {
    val prev = FileIO.impl
    FileIO.impl = ObjectStoreFileIO
    try body finally FileIO.impl = prev
  }

  test("conditional PUT: exactly one publishNew wins a version slot; " +
      "losers see false and no empty-slot window ever exists") {
    withObjectStore {
      (1 to 10).foreach { trial =>
        val dir = Files.createTempDirectory(s"ostore_pub$trial")
        val target = dir.resolve("manifest-0000000001.json")
        val wins = new java.util.concurrent.atomic.AtomicInteger
        val threads = (1 to 8).map { t =>
          new Thread(() => {
            val tmp = dir.resolve(s".tmp-$t")
            Files.write(tmp, s"""{"writer":$t}""".getBytes)
            if (FileIO.impl.publishNew(tmp, target)) wins.incrementAndGet()
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        assert(wins.get == 1, s"trial $trial: ${wins.get} winners")
        val content = new String(Files.readAllBytes(target))
        assert(content.startsWith("""{"writer":"""),
          s"slot must hold one winner's full bytes, got '$content'")
      }
    }
  }

  test("manifest commit survives high contention without lost updates " +
      "under object-store primitives") {
    withObjectStore {
      (1 to 8).foreach { trial =>
        val dir = Files.createTempDirectory(s"oscontend$trial").resolve("c")
        Files.createDirectories(dir)
        val threads = (1 to 8).map { t =>
          new Thread(() => {
            CollectionMeta.commit(dir, cur => cur.copy(segments = cur.segments :+
              SegmentInfo(s"seg-$t.data", cur.nextOrdinal, 1, 0, 10, Map.empty)))
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        val m = CollectionMeta.currentManifest(dir)
        assert(m.segments.size == 8,
          s"trial $trial lost ${8 - m.segments.size} commits (v${m.version})")
        assert(m.version == 8)
        assert(m.segments.map(_.ordinal).distinct.size == 8)
      }
    }
  }

  test("refs read-modify-write under the CAS lease: concurrent tag pins " +
      "all survive (no lost update without flock)") {
    withObjectStore {
      val w = Files.createTempDirectory("ostore_tags").resolve("c").toString
      Collection.create(spark, w,
        Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      val c = Collection(spark, w)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (1 to 8).map { t =>
        new Thread(() => {
          try c.createTag(s"tag_$t")
          catch { case e: Throwable => errs.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"tag writers failed: ${errs.peek()}")
      val tags = c.tags
      (1 to 8).foreach(t => assert(tags.contains(s"tag_$t"),
        s"tag_$t lost (refs RMW dropped an update): ${tags.keys.toSeq.sorted}"))
    }
  }

  test("branch write-audit-publish round-trips on object-store semantics") {
    withObjectStore {
      val w = Files.createTempDirectory("ostore_branch").resolve("c").toString
      Collection.create(spark, w, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      val c = Collection(spark, w)
      c.createBranch("audit")
      // staged write: invisible to main until fast-forward
      Seq((3L, "c")).toDF("k", "v").write.format("hadro").mode("append")
        .option("hadro.branch", "audit").save(w)
      assert(c.toDF().count() == 2, "staged write leaked to main")
      c.fastForward("audit")
      assert(c.toDF().count() == 3, "fast-forward lost the staged write")
      assert(c.toDF().select("k").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
    }
  }

  test("branch REBASE (diverged main) round-trips on object-store semantics") {
    withObjectStore {
      val w = Files.createTempDirectory("ostore_rebase").resolve("c").toString
      Collection.create(spark, w, Seq((1L, "a")).toDF("k", "v"))
      val c = Collection(spark, w)
      c.createBranch("wip")
      Seq((2L, "staged")).toDF("k", "v").write.format("hadro").mode("append")
        .option("hadro.branch", "wip").save(w)
      // main moves underneath the branch: fast-forward must refuse,
      // rebase must replay the staged epoch onto the new main head
      Seq((3L, "mainline")).toDF("k", "v").write.format("hadro")
        .mode("append").save(w)
      intercept[Exception](c.fastForward("wip"))
      c.rebase("wip")
      c.fastForward("wip")
      assert(c.toDF().select("k").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
    }
  }

  test("zero-copy-clone verbs fall back to COPY semantics (no hard link)") {
    withObjectStore {
      val base = Files.createTempDirectory("ostore_clone")
      val w = base.resolve("src").toString
      Collection.create(spark, w,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
      val cloned = Collection(spark, w).cloneTo(base.resolve("dst").toString)
      assert(cloned.toDF().count() == 3)
      assert(cloned.toDF().select("k").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
    }
    // Every metadata slot those verbs (and the index builds, vocab save
    // and deferred GC around them) leave in `_hadro/` must have gone
    // through the seam: each file's bytes are the last bytes replaceSlot
    // published for it. A direct Files.write would assume a local disk.
    underEachFileIO { io =>
      val rec = new RecordingFileIO(FileIO.impl)
      val prev = FileIO.impl
      FileIO.impl = rec
      try {
        val base = Files.createTempDirectory(s"seam_$io")
        val embs = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(64)
        def ix(n: String) = base.resolve(n).toString
        graft.ops.SimilarityOps.buildIvfIndex(spark, ix("ivf"), embs,
          "vec_id", "embedding", kCentroids = 2, numSegments = 1)
        graft.ops.SimilarityOps.buildPqIndex(spark, ix("pq"), embs,
          "vec_id", "embedding", numSegments = 1, iterations = 0)
        graft.ops.SimilarityOps.buildSqIndex(spark, ix("sq"), embs,
          "vec_id", "embedding", numSegments = 1)
        val src = Collection.create(spark, ix("src"), Seq((1L, "a")).toDF("k", "v"))
        graft.ops.TextOps.saveVocab(base.resolve("src"), Seq("a", "b"))
        val stage = src.cloneTo(ix("stage"))
        Seq((2L, "b")).toDF("k", "v").write.format("hadro").mode("append")
          .save(src.path)
        stage.compact() // the stage's first dead-list
        // the source's v1 and v2 segments go dead-listed; a tag on v1 then
        // pins part of that list, so the next compaction REWRITES it
        src.publishFrom(stage.path, force = true)
        src.createTag("pin", 1L)
        src.compact()
        val published = rec.published.asScala.groupBy(_._1)
          .map { case (t, ws) => t -> ws.last._2 }
        val slots = Seq("ivf", "pq", "sq", "src", "stage").flatMap { n =>
          CollectionMeta.listDir(CollectionMeta.metaDir(base.resolve(n)))
            .filterNot { p =>
              val f = p.getFileName.toString
              f.matches("manifest-\\d{10}\\.json") || f.endsWith(".lock") ||
                f.endsWith(".lease")
            }
        }
        Seq("ivf-centroids.json", "pq-codebook.json", "sq8-params.json",
          "vocab.json", "clone-origin.json")
          .foreach(f => assert(slots.exists(_.getFileName.toString == f), s"$io: no $f"))
        assert(slots.count(_.getFileName.toString.startsWith("dead-")) >= 2,
          s"$io: expected dead-lists in both collections: $slots")
        val bypassed = slots.filterNot(p => published.get(p.toAbsolutePath.normalize)
          .exists(_.sameElements(Files.readAllBytes(p))))
        assert(bypassed.isEmpty,
          s"$io: written around FileIO.replaceSlot: ${bypassed.mkString(", ")}")
        assert(rec.published.asScala.map(_._1).toSeq.filter(
            _.getFileName.toString.startsWith("dead-")).groupBy(identity)
          .exists(_._2.size >= 2), s"$io: no dead-list rewrite went through the seam")
      } finally FileIO.impl = prev
    }
  }
}

/** Delegates to `inner`, recording each replaceSlot target and the bytes
  * published to it. */
private class RecordingFileIO(inner: FileIO) extends FileIO {
  val published =
    new java.util.concurrent.ConcurrentLinkedQueue[(java.nio.file.Path, Array[Byte])]
  override def replaceSlot(tmp: java.nio.file.Path,
      target: java.nio.file.Path): Unit = {
    published.add(target.toAbsolutePath.normalize -> Files.readAllBytes(tmp))
    inner.replaceSlot(tmp, target)
  }
  override def publishNew(tmp: java.nio.file.Path,
      target: java.nio.file.Path): Boolean = inner.publishNew(tmp, target)
  override def withFileLock[T](lockFile: java.nio.file.Path)(body: => T): T =
    inner.withFileLock(lockFile)(body)
  override def linkOrCopy(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = inner.linkOrCopy(src, dst)
}
