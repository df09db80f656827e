package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Collection
import graft.ops.{ClusterOps, DedupOps}

/** The near-duplicate curation loop on a generated corpus with planted
  * near-duplicates: a day-0 bootstrap (LSH index build, batch n-gram
  * Jaccard pairs, membership fold, drop-list cycle), then windows of new
  * documents, each running the index probe with a pairs sink, the
  * membership cycle with the keep list, and the drop-list cycle. The last
  * of every [[CurationLoop.CycleWindows]] windows is a backfill of
  * re-crawled copies of older documents whose verified pairs exceed the
  * loop's 1000-key driver bound, so the distributed fallbacks run too.
  *
  * Ground truth: a planted copy is an original's text plus one word that
  * occurs nowhere else (3-word-shingle Jaccard ~0.95 to its original and
  * its sibling copies, ~0 to everything else), and originals always have
  * smaller ids than their copies, so the drop list is exactly the set of
  * copies. After each window the benchmark looks up the window's
  * documents in the drop list and checks their status. */
final class CurationLoop extends Workload {
  import CurationLoop._

  private var seed = 0L
  private var rng: scala.util.Random = _
  private var nextId = 0L
  private val originals = mutable.ArrayBuffer.empty[Long]
  private val copies = mutable.Set.empty[Long]
  private val copyOf = mutable.Map.empty[Long, Long]
  private var windows = 0
  private var base: Path = _
  private var userBytes = 0L
  private var bootstrapDocs: DataFrame = _

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def textOf(id: Long): String = copyOf.get(id) match {
    case Some(o) => textOf(o) + s" zq${java.lang.Long.toString(id, 36)}"
    case None => Gen.words(seed, id, DocWords)
  }

  private def newOriginal(): Long = { val id = nextId; nextId += 1; originals += id; id }
  private def newCopy(of: Long): Long = {
    val id = nextId; nextId += 1; copies += id; copyOf(id) = of; id
  }

  /** Plan the ids of the next batch: `n` documents, a `copyShare` of them
    * copies, half of those of originals in this batch, half of older
    * originals. A backfill is all copies of distinct older originals. */
  private def plan(n: Int, copyShare: Double, backfill: Boolean): Seq[Long] =
    if (backfill) {
      val olds = rng.shuffle(originals.toIndexedSeq).take(n)
      olds.map(newCopy)
    } else {
      val nCopies = (n * copyShare).toInt
      val older = originals.toIndexedSeq
      val fresh = (0 until n - nCopies).map(_ => newOriginal())
      val cps = (0 until nCopies).map { j =>
        val pool = if (j % 2 == 0 || older.isEmpty) fresh else older
        newCopy(pool(rng.nextInt(pool.size)))
      }
      fresh ++ cps
    }

  private def frame(ctx: Ctx, ids: Seq[Long]): DataFrame = {
    val rows = ids.map(id => Row(id, textOf(id)))
    userBytes += rows.map(r => 8L + r.getString(1).length).sum
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, ctx.cores),
      docSchema).localCheckpoint()
  }

  private def p(name: String): String = base.resolve(name).toString

  /** Day-0 bootstrap over `docs`. Returns the verified pairs found. */
  private def bootstrap(ctx: Ctx, docs: DataFrame): Long = {
    val spark = ctx.spark
    val tr = ctx.tr
    tr.api("append")(Collection(spark, p("docs")).append(docs))
    tr.ops("minhashLshIndexBuild")(
      DedupOps.minhashLshIndexBuild(docs, "doc_id", "text", p("idx")))
    val pairs = tr.ops("ngramJaccardPairs")(
      DedupOps.ngramJaccardPairs(docs, "doc_id", "text", threshold = Threshold)
        .localCheckpoint())
    tr.ops("componentsUpdate")(ClusterOps.componentsUpdate(spark, pairs,
      "doc_a", "doc_b", p("state"), keepPath = Some(p("keep"))))
    tr.ops("curationCycle")(
      ClusterOps.curationCycle(spark, p("state"), "drop", p("keep"), p("drops")))
    pairs.count()
  }

  /** One loop window over `docs` (window id `w`). Returns the verified
    * pairs the probe found. */
  private def window(ctx: Ctx, docs: DataFrame, w: Long): Long = {
    val spark = ctx.spark
    val tr = ctx.tr
    tr.api("append")(Collection(spark, p("docs")).append(docs))
    val found = tr.ops("minhashLshIndexProbe")(DedupOps.minhashLshIndexProbe(spark,
      docs, "doc_id", "text", p("idx"), threshold = Threshold,
      pairsSink = Some((p("pairs"), w))).count())
    tr.ops("componentsCycle")(ClusterOps.componentsCycle(spark, p("pairs"), "cursor",
      p("state"), keepPath = Some(p("keep"))))
    tr.ops("curationCycle")(
      ClusterOps.curationCycle(spark, p("state"), "drop", p("keep"), p("drops")))
    found
  }

  /** Look up `ids` in the drop list in chunks, as a consumer of the loop
    * would, and check each status against the truth. */
  private def lookups(ctx: Ctx, ids: Seq[Long]): Unit = {
    val rec = ctx.rec
    val tr = ctx.tr
    val drops = Collection(ctx.spark, p("drops"))
    rng.shuffle(ids).take(LookupChunk * Lookups).grouped(LookupChunk).foreach { chunk =>
      rec.attempt("drop-list lookup") {
        val (df, got) = tr.op("drop_lookup")(rec.timed("read")(tr.api("multiGet") {
          val df = drops.multiGet(chunk: _*).select(col("doc_id"))
          (df, df.collect())
        }))
        if (tr.enabled) PlanMetrics.countSegmentsRead(rec, df)
        got.map(_.getLong(0)).toSet == chunk.filter(copies.contains).toSet
      }
    }
  }

  /** Survivors = corpus anti-join the drop list: what training reads. */
  private def survivors(ctx: Ctx): Unit = {
    val rec = ctx.rec
    val tr = ctx.tr
    rec.attempt("survivors scan") {
      val n = tr.op("survivors")(rec.timed("scan") {
        tr.api("scan") {
          Collection(ctx.spark, p("docs")).scan()
            .join(ClusterOps.dropList(ctx.spark, p("drops")).select(col("doc_id")),
              Seq("doc_id"), "left_anti").count()
        }
      })
      rec.scanned(n)
      n == nextId - copies.size
    }
  }

  private def reset(ctx: Ctx, dir: Path): Unit = {
    rng = new scala.util.Random(seed * 31 + 3)
    nextId = 0; originals.clear(); copies.clear(); copyOf.clear()
    windows = 0; userBytes = 0; base = dir
  }

  /** Generates the corpus the run bootstraps from. */
  def setup(ctx: Ctx): Unit = {
    seed = ctx.seed
    reset(ctx, ctx.dir.resolve("loop"))
    bootstrapDocs = frame(ctx, plan(BootstrapDocs, CopyShare, backfill = false))
  }

  /** A small loop of its own: a bootstrap and a window. */
  def warmup(ctx: Ctx): Unit = {
    val w = new CurationLoop
    w.seed = seed
    w.reset(ctx, ctx.dir.resolve("warmup"))
    w.bootstrap(ctx, w.frame(ctx, w.plan(WarmupDocs, CopyShare, backfill = false)))
    val ids = w.plan(WindowDocs, CopyShare, backfill = false)
    w.window(ctx, w.frame(ctx, ids), 0L)
    w.lookups(ctx, ids)
    w.survivors(ctx)
    Main.deleteTree(w.base)
  }

  /** The bootstrap, then whole cycles of windows (regular windows and a
    * closing backfill) until the deadline: a run always ends on a cycle
    * boundary, so every run has the same mix of windows. */
  def measure(ctx: Ctx, deadlineNs: Long): Unit = {
    val rec = ctx.rec
    val tr = ctx.tr
    rec.attempt("bootstrap") {
      val t0 = System.nanoTime()
      val found = tr.op("bootstrap")(rec.charge("write")(bootstrap(ctx, bootstrapDocs)))
      rec.values("bootstrap_s") = (System.nanoTime() - t0) / 1e9
      rec.volume("pairs_found") += found
      found > 0
    }
    rec.volume("write_bytes") += userBytes
    lookups(ctx, 0L until nextId)
    survivors(ctx)
    rec.values("commits_before_windows") = Meta.versions(collections(ctx)).values.sum.toDouble
    do {
      for (i <- 0 until CycleWindows) {
        val backfill = i == CycleWindows - 1
        val before = userBytes
        val ids = plan(if (backfill) BackfillDocs else WindowDocs, CopyShare, backfill)
        val docs = frame(ctx, ids)
        rec.attempt(s"window $windows") {
          // regular windows are write samples, backfills a class of their
          // own (the write tail); both count as write time
          def run() = window(ctx, docs, windows.toLong)
          val found =
            if (backfill) tr.op("backfill_window")(rec.charge("write")(rec.timed("backfill")(run())))
            else tr.op("window")(rec.timed("write")(run()))
          rec.volume("pairs_found") += found
          rec.volume("write_bytes") += userBytes - before
          !backfill || found > Collection.MaxKeyPushdown
        }
        windows += 1
        lookups(ctx, ids)
        survivors(ctx)
      }
    } while (System.nanoTime() < deadlineNs)
  }

  def finish(ctx: Ctx): Unit = {
    val rec = ctx.rec
    rec.values("windows") = windows
    rec.check("final drop list equals the planted copies") {
      ClusterOps.dropList(ctx.spark, p("drops")).select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet == copies.toSet
    }
    rec.values("bytes_per_user_byte") = Main.treeBytes(base).toDouble / userBytes
  }

  def collections(ctx: Ctx): Seq[Path] =
    Seq("docs", "pairs", "state", "keep", "drops", "idx/sets", "idx/bands").map(base.resolve)

  def formatSample(ctx: Ctx): DataFrame = bootstrapDocs
}

object CurationLoop {
  val DocWords = 40
  val Threshold = 0.8
  val CopyShare = 0.15
  val WarmupDocs = 400
  val BootstrapDocs = 4000
  val WindowDocs = 200
  val BackfillDocs = 1010
  val CycleWindows = 2
  /** Drop-list lookups after each window: with the bootstrap's and one
    * cycle's, enough read samples for a tail above the median. */
  val Lookups = 12
  val LookupChunk = 10
}
