package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Collection

/** A closed loop of point reads and keyed writes over a preloaded keyed
  * collection: a seeded mix of `get`, `multiGet` of [[KeyedOps.MultiKeys]]
  * keys, `set` of [[KeyedOps.SetRows]] rows and `delete` of
  * [[KeyedOps.DeleteKeys]] keys, on skewed keys, with `compactSmall` after
  * every [[KeyedOps.CompactEvery]] writes. Every read is checked against a
  * last-write-wins model of the collection kept by the benchmark. After
  * the loop the collection is compacted and its full scans are timed and
  * checked too.
  *
  * The preload is written as [[KeyedOps.PreloadSegments]] segments, so the
  * live segment count crosses the 256-entry key-offset cache of the scan
  * planner a few writes after each compaction: lookups run both inside and
  * beyond that cache. */
final class KeyedOps extends Workload {
  import KeyedOps._

  private var coll: Collection = _
  private var path: Path = _
  private var seed = 0L
  private val lastVer = new Array[Int](Keys)
  private val alive = Array.fill(Keys)(true)
  private var writes = 0
  private var rng: scala.util.Random = _

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("ver", IntegerType),
    StructField("i", IntegerType), StructField("payload", StringType)))

  /** A skewed key (see [[KeyedOps.Mix]]): rank r with density falling as
    * r^-2/3, scrambled by a bijection of [0, Keys) so hot keys spread over
    * the key space. */
  private def key(): Long = {
    val u = rng.nextDouble()
    val r = (Keys * u * u * u).toLong
    (r * 0x9E3779B1L + seed) & (Keys - 1)
  }

  private def distinctKeys(n: Int): Seq[Long] = {
    val s = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (s.size < n) s += key()
    s.toSeq
  }

  private def expected(k: Long): Option[KeyedRow] =
    if (alive(k.toInt)) Some(KeyedRow(seed, k, lastVer(k.toInt))) else None

  private def matches(rows: Array[Row], keys: Seq[Long]): Boolean = {
    val got = rows.map(r => r.getLong(0) -> KeyedRow(r.getLong(0), r.getInt(1),
      r.getInt(2), r.getString(3))).toMap
    got.size == rows.length && keys.forall(k => got.get(k) == expected(k)) &&
      got.keySet.subsetOf(keys.toSet)
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    seed = ctx.seed
    java.util.Arrays.fill(lastVer, 0)
    java.util.Arrays.fill(alive, true)
    writes = 0
    rng = new scala.util.Random(seed * 31 + 2)
    path = ctx.dir.resolve("kv")
    val s = seed
    val preload = spark.range(0, Keys, 1, ctx.cores).map(k => KeyedRow(s, k, 0)).toDF()
    coll = Collection.create(spark, path.toString, preload, key = Some("k"),
      numSegments = PreloadSegments)
  }

  /** One pass of the schedule and a compactSmall, on the preloaded
    * collection. */
  def warmup(ctx: Ctx): Unit = {
    schedule.foreach(runOp(ctx, _))
    runOp(ctx, "compact")
  }

  private def runOp(ctx: Ctx, op: String): Unit = {
    val rec = ctx.rec
    val tr = ctx.tr
    val spark = ctx.spark
    op match {
      case "get" =>
        val k = key()
        rec.attempt(s"get $k") {
          val (df, rows) = tr.op("get")(rec.timed("read")(tr.api("get") {
            val df = coll.get(k)
            (df, df.collect())
          }))
          if (tr.enabled) PlanMetrics.countSegmentsRead(rec, df)
          matches(rows, Seq(k))
        }
      case "multiGet" =>
        val ks = distinctKeys(MultiKeys)
        rec.attempt("multiGet") {
          val (df, rows) = tr.op("multiGet")(rec.timed("multiget")(tr.api("multiGet") {
            val df = coll.multiGet(ks: _*)
            (df, df.collect())
          }))
          if (tr.enabled) PlanMetrics.countSegmentsRead(rec, df)
          matches(rows, ks)
        }
      case "set" =>
        val ks = distinctKeys(SetRows)
        val rows = ks.map(k => KeyedRow(seed, k, lastVer(k.toInt) + 1))
        val df = spark.createDataFrame(java.util.Arrays.asList(
          rows.map(r => Row(r.k, r.ver, r.i, r.payload)): _*), schema)
        rec.attempt("set") {
          tr.op("set")(rec.timed("write")(tr.api("set")(coll.set(df))))
          rows.foreach { r => lastVer(r.k.toInt) = r.ver; alive(r.k.toInt) = true }
          rec.volume("write_bytes") += rows.map(KeyedRow.userBytes).sum
          true
        }
        wrote(ctx)
      case "delete" =>
        val ks = distinctKeys(DeleteKeys)
        val df = spark.createDataFrame(java.util.Arrays.asList(ks.map(Row(_)): _*),
          StructType(Seq(StructField("k", LongType))))
        rec.attempt("delete") {
          tr.op("delete")(rec.timed("write")(tr.api("delete")(coll.delete(df))))
          ks.foreach(k => alive(k.toInt) = false)
          rec.volume("write_bytes") += 8L * ks.size
          true
        }
        wrote(ctx)
      case "compact" =>
        // maintenance: traced, but neither a write nor write time, so
        // the write rate does not jump with the number of compactions
        // that fall inside a run
        rec.attempt("compactSmall") {
          tr.op("compactSmall")(tr.api("compactSmall")(coll.compactSmall(SmallSegmentBytes)))
          true
        }
      case "scan" =>
        rec.attempt("full scan") {
          // toDF: the resolved full read of a keyed collection
          val r = tr.op("full_scan")(rec.timed("scan")(tr.api("scan")(
            coll.toDF().agg(count(lit(1)), sum(col("k")), sum(col("ver").cast("long")))
              .collect()(0))))
          rec.scanned(r.getLong(0))
          val live = (0 until Keys).filter(alive(_))
          r.getLong(0) == live.size && r.getLong(1) == live.map(_.toLong).sum &&
            r.getLong(2) == live.map(lastVer(_).toLong).sum
        }
    }
  }

  private def wrote(ctx: Ctx): Unit = {
    writes += 1
    if (writes % CompactEvery == 0) runOp(ctx, "compact")
  }

  /** The op mix as one seeded sequence, repeated: every run executes the
    * same prefix of the same schedule, so the mix does not drift with the
    * number of ops that fit in a run. */
  private def schedule: IndexedSeq[String] = new scala.util.Random(seed * 31 + 4).shuffle(
    Mix.toIndexedSeq.flatMap { case (op, n) => Seq.fill(n)(op) })

  def measure(ctx: Ctx, deadlineNs: Long): Unit = {
    val ops = schedule
    var i = 0
    while (System.nanoTime() < deadlineNs) {
      runOp(ctx, ops(i % ops.size))
      i += 1
    }
  }

  /** A full compaction (for `bytes_per_user_byte`), then timed full
    * scans of the compacted collection, each checked against the model,
    * and a check of a sample of keys. */
  def finish(ctx: Ctx): Unit = {
    val rec = ctx.rec
    ctx.tr.api("compact")(coll.compact())
    (0 until FinalScans).foreach(_ => runOp(ctx, "scan"))
    val sample = distinctKeys(FinalCheckKeys)
    rec.check("key sample after compaction")(matches(coll.multiGet(sample: _*).collect(), sample))
    val live = (0 until Keys).filter(alive(_))
    val userBytes = live.map(k => KeyedRow.userBytes(KeyedRow(seed, k, lastVer(k)))).sum
    rec.values("bytes_per_user_byte") = Main.treeBytes(path).toDouble / userBytes
  }

  def collections(ctx: Ctx): Seq[Path] = Seq(path)

  def formatSample(ctx: Ctx): DataFrame = coll.toDF().limit(FormatRows)
}

object KeyedOps {
  val Keys: Int = 1 << 17
  val PreloadSegments = 248
  /** Ops per schedule of the closed loop. The mix and the key skew are
    * chosen, not measured: about half reads and half writes, on hot keys.
    * They define the workload and stay fixed, so that its figures compare
    * across versions of the program. */
  val Mix = Seq("get" -> 9, "multiGet" -> 2, "set" -> 7, "delete" -> 2)
  val MultiKeys = 10
  val SetRows = 100
  val DeleteKeys = 10
  val CompactEvery = 16
  /** compactSmall packs segments below this size: the write segments, not
    * the preload's. */
  val SmallSegmentBytes: Long = 64L * 1024
  val FormatRows = 20000
  val FinalCheckKeys = 64
  val FinalScans = 15
}
