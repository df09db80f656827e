package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run of a workload measures: latency samples per operation
  * class, the time and volume of writes, reads and full scans, and the
  * operations attempted and failed. A failed correctness check counts as
  * a failed operation. */
final class Recorder {
  val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val nanos = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val volume = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val values = mutable.Map.empty[String, Double]
  var attempted = 0L
  var failed = 0L

  /** Time one operation of class `cls` (ms sample, total ns). */
  def timed[A](cls: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      samples.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += dt / 1e6
      nanos(cls) += dt
    }
  }

  /** Rows returned by the full scan just timed as class "scan": records
    * its rate in rows/s. */
  def scanned(rows: Long): Unit =
    samples.getOrElseUpdate("scan_rate", mutable.ArrayBuffer.empty) +=
      rows / (samples("scan").last / 1e3)

  /** Add time to a class's total without making it a latency sample. */
  def charge[A](cls: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally nanos(cls) += System.nanoTime() - t0
  }

  /** One attempted operation; `body` returns whether its output was right. */
  def attempt(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch {
      case e: Exception =>
        System.err.println(s"perfbench: $what failed: $e")
        false
    }
    if (!ok) {
      failed += 1
      System.err.println(s"perfbench: $what returned a wrong result")
    }
  }

  /** A check of the output that is not a timed operation. */
  def check(what: String)(ok: => Boolean): Unit = attempt(what)(ok)
}

/** Everything a workload needs: the session, its seed and directory, the
  * recorder and the tracer. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
    val dir: Path, val rec: Recorder, val tr: Tracer)

trait Workload {
  /** One full set-up in `ctx.dir`: generate the inputs and preload. */
  def setup(ctx: Ctx): Unit
  /** After the last set-up: one pass over every operation the run
    * measures, so that JIT compilation and the program's caches are warm.
    * Neither counted nor part of `setup_s`. */
  def warmup(ctx: Ctx): Unit
  /** Run operations in a closed loop (one client) until `deadlineNs`. */
  def measure(ctx: Ctx, deadlineNs: Long): Unit
  /** After the measured phase: final correctness checks and end-state
    * values (`bytes_per_user_byte`). Not timed. */
  def finish(ctx: Ctx): Unit
  /** Collections whose manifests the meta layer reports on. */
  def collections(ctx: Ctx): Seq[Path]
  /** A sample of the workload's own rows for the format layer probe. */
  def formatSample(ctx: Ctx): org.apache.spark.sql.DataFrame
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = Paths.get(opts("workdir"))
    val results = Paths.get(opts("results"))
    val wl: Workload = name match {
      case "keyed_ops" => new KeyedOps
      case "curation_loop" => new CurationLoop
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = new Recorder
    val tr = new Tracer(trace)

    // --- set-up, several times; the last one is measured
    var spark: SparkSession = null
    var ctx: Ctx = null
    val setupS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, work)
      spark.sparkContext.setLogLevel("WARN")
      val dir = work.resolve(s"setup-$r")
      if (r > 0) deleteTree(work.resolve(s"setup-${r - 1}"))
      Files.createDirectories(dir)
      ctx = new Ctx(spark, seed, cores, dir, new Recorder, tr)
      tr.attach(spark)
      wl.setup(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up timings are dropped, its checks count
    val warm = new Recorder
    wl.warmup(new Ctx(spark, seed, cores, ctx.dir, warm, tr))
    rec.attempted += warm.attempted
    rec.failed += warm.failed
    ctx = new Ctx(spark, seed, cores, ctx.dir, rec, tr)

    // --- measured phase
    val exec = new ExecListener
    val plans = new PlanListener
    if (trace) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(plans)
      tr.start()
    }
    val nanoMinusMillis = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val metaBefore = Meta.versions(wl.collections(ctx))
    val t0 = System.nanoTime()
    wl.measure(ctx, t0 + seconds * 1000000000L)
    val measuredS = (System.nanoTime() - t0) / 1e9
    // the meta layer reports the state the loop left, before end-state work
    val meta = if (trace) Meta.report(wl.collections(ctx), metaBefore, rec) else Nil
    wl.finish(ctx)
    if (trace) {
      // the listeners run on the bus thread: let the end-state work's
      // events reach them before they go
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(exec)
      spark.listenerManager.unregister(plans)
    }

    val e2e = Report.endToEnd(rec, median(setupS))
    val detail = Report.detail(rec, setupS, measuredS)
    val resultFile = results.resolve(s"$name-seed$seed.json")
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        Files.writeString(resultFile, Report.json(e2e.map(m => m._1 -> m._2).toMap))
        e2e
      } else {
        val layers = Report.perLayer(rec, tr, exec, plans, nanoMinusMillis, meta,
          FormatProbe.run(ctx, wl.formatSample(ctx), work.resolve("format")))
        Report.overhead(e2e, resultFile)
        writeSpans(tr.recorded, results.resolve(s"$name-seed$seed.spans.jsonl"))
        layers
      }
    spark.stop()
    deleteTree(work)
    println(s"perfbench detail: $detail")
    metrics.foreach { case (k, v, u) => println(f"  $k%-40s $v%16.6f $u") }
    println(Report.result(rec.failed == 0, rec.attempted, rec.failed, metrics))
  }

  def session(cores: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.driver.host", "localhost")
      .getOrCreate()

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) {
      val ds = Files.list(p)
      try ds.toArray.foreach(x => deleteTree(x.asInstanceOf[Path])) finally ds.close()
    }
    Files.deleteIfExists(p)
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally w.close()
  }

  private def writeSpans(spans: Seq[Span], f: Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    Files.writeString(f, sb.toString)
  }
}
