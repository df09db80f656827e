package graft.perfbench

import java.nio.file.{Files, Path}

/** Turns a run's recorder, spans and listener counters into named
  * metrics, and prints the result line. */
object Report {
  type Metric = (String, Double, String)

  /** The highest percentile, at most p90, with at least ten samples above
    * it (never below the median). */
  def tailLevel(n: Int): Double = math.max(0.5, math.min(0.9, 1.0 - 10.0 / n))

  private def tail(xs: Seq[Double]): Double = Main.percentile(xs, tailLevel(xs.size))

  private def rate(volume: Double, nanos: Long): Double =
    if (nanos > 0) volume / (nanos / 1e9) else 0.0

  def endToEnd(rec: Recorder, setupS: Double): Seq[Metric] = {
    def s(cls: String) = rec.samples.getOrElse(cls, Seq.empty[Double]).toSeq
    def orZero(xs: Seq[Double])(f: Seq[Double] => Double) = if (xs.isEmpty) 0.0 else f(xs)
    Seq(
      ("setup_s", setupS, "s"),
      ("write_mb_per_s", rate(rec.volume("write_bytes") / 1e6, rec.nanos("write")), "MB/s"),
      ("write_p50_ms", orZero(s("write"))(Main.median), "ms"),
      // curation_loop's backfill windows are its write tail: too few per
      // run for a percentile, and the only writes past the driver bound
      ("write_tail_ms",
        if (s("backfill").nonEmpty) Main.median(s("backfill")) else orZero(s("write"))(tail), "ms"),
      ("read_p50_ms", orZero(s("read"))(Main.median), "ms"),
      ("read_tail_ms", orZero(s("read"))(tail), "ms"),
      ("scan_rows_per_s", orZero(s("scan_rate"))(Main.median), "rows/s"),
      ("bytes_per_user_byte", rec.values.getOrElse("bytes_per_user_byte", 0.0), "ratio"))
  }

  /** Sample counts, tail levels and workload-specific values, for the
    * human reading the output. */
  def detail(rec: Recorder, setupS: Seq[Double], measuredS: Double): String = {
    val counts = rec.samples.toSeq.sortBy(_._1).map { case (k, v) =>
      val p50 = Main.median(v.toSeq)
      f""""$k": {"n": ${v.size}, "p50": $p50%.3f, "tail_level": ${tailLevel(v.size)}%.3f}"""
    }
    val values = rec.values.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }
    s"""{"setup_runs_s": [${setupS.map(x => f"$x%.3f").mkString(", ")}], """ +
      f""""measured_s": $measuredS%.3f, "attempted": ${rec.attempted}, """ +
      s""""failed": ${rec.failed}, ${(counts ++ values).mkString(", ")}}"""
  }

  val ApiOps = Seq("append", "scan", "get", "multiGet", "set", "delete",
    "compactSmall", "compact")
  val OpsVerbs = Seq("minhashLshIndexBuild", "ngramJaccardPairs", "componentsUpdate",
    "minhashLshIndexProbe", "componentsCycle", "curationCycle")
  val Layers = Seq("bench", "api", "ops", "catalyst", "exec", "format")

  def perLayer(rec: Recorder, tr: Tracer, exec: ExecListener, plans: PlanListener,
      nanoMinusMillis: Long, meta: Seq[Metric], format: Seq[Metric]): Seq[Metric] = {
    val spans = tr.recorded
    val jobs = scala.jdk.CollectionConverters.MapHasAsScala(exec.jobSpans).asScala.toMap
    def spanSeconds(layer: String, name: String) =
      spans.filter(s => s.layer == layer && s.name == name).map(s => (s.endNs - s.startNs) / 1e9)
    val api = ApiOps.flatMap { op =>
      val d = spanSeconds("api", op)
      Seq((s"api.$op.calls", d.size.toDouble, "count"), (s"api.$op.s", d.sum, "s"))
    }
    val ops = OpsVerbs.flatMap { v =>
      val ids = spans.filter(s => s.layer == "ops" && s.name == v).map(_.id).toSet
      Seq((s"ops.$v.s", spanSeconds("ops", v).sum, "s"),
        (s"ops.$v.jobs", jobs.values.count(j => ids.contains(j._1)).toDouble, "count"))
    } :+ (("ops.pairs_found", rec.volume("pairs_found"), "count"))
    val catalyst = Seq("analysis", "optimization", "planning").map(p =>
      (s"catalyst.${p}_s", plans.phaseMs(p) / 1e3, "s"))
    val ex = Seq(
      ("exec.jobs", exec.jobs.get.toDouble, "count"),
      ("exec.stages", exec.stages.get.toDouble, "count"),
      ("exec.tasks", exec.tasks.get.toDouble, "count"),
      ("exec.task_run_s", exec.taskRunMs.get / 1e3, "s"),
      ("exec.task_cpu_s", exec.taskCpuNs.get / 1e9, "s"),
      ("exec.gc_s", exec.gcMs.get / 1e3, "s"),
      ("exec.scheduler_wait_s", exec.schedulerWaitMs.get / 1e3, "s"),
      ("exec.shuffle_read_bytes", exec.shuffleReadBytes.get.toDouble, "bytes"),
      ("exec.shuffle_write_bytes", exec.shuffleWriteBytes.get.toDouble, "bytes"),
      ("exec.spill_bytes", exec.spillBytes.get.toDouble, "bytes"))
    val h = plans.hadro
    val read = h("hadroSegmentsRead").toDouble
    val pruned = h("hadroSegmentsPruned").toDouble
    val readOps = rec.volume("read_ops")
    val sparkLayer = Seq(
      ("spark.segments_read", read, "count"),
      ("spark.segments_pruned", pruned, "count"),
      ("spark.blocks_pruned", h("hadroBlocksPruned").toDouble, "count"),
      ("spark.bytes_planned", h("hadroBytesPlanned").toDouble, "bytes"),
      ("spark.rows_written", h("hadroRowsWritten").toDouble, "count"),
      ("spark.bytes_written", h("hadroBytesWritten").toDouble, "bytes"),
      ("spark.segments_written", h("hadroSegmentsWritten").toDouble, "count"),
      ("spark.prune_ratio", if (read + pruned > 0) pruned / (read + pruned) else 0.0, "ratio"),
      ("spark.segments_read_per_get",
        if (readOps > 0) rec.volume("read_segments") / readOps else 0.0, "count"))
    val self = SelfTime(spans, jobs.values.toSeq, plans.phaseIntervals.toSeq, nanoMinusMillis)
    val selfLayer = Layers.map(l => (s"self.${l}_s", self.getOrElse(l, 0.0), "s"))
    api ++ ops ++ catalyst ++ ex ++ sparkLayer ++ meta ++ format ++ selfLayer :+
      (("trace.spans", spans.size.toDouble, "count"))
  }

  /** Print the traced run's end-to-end numbers against the untraced run's
    * of the same workload and seed, when that run left its result. */
  def overhead(traced: Seq[Metric], untracedFile: Path): Unit =
    if (!Files.exists(untracedFile)) {
      println("perfbench trace overhead: no untraced result for this workload and seed")
    } else {
      val txt = Files.readString(untracedFile)
      traced.foreach { case (k, v, u) =>
        val m = ("\"" + java.util.regex.Pattern.quote(k) + "\": ([-0-9.eE]+)").r
        m.findFirstMatchIn(txt).map(_.group(1).toDouble).foreach { base =>
          val pct = if (base != 0) (v - base) / base * 100 else 0.0
          println(f"perfbench trace overhead: $k%-22s traced $v%.4f untraced $base%.4f $u (${pct}%+.1f%%)")
        }
      }
    }

  def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String = {
    val ms = metrics.map { case (k, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k": {"value": $x, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
