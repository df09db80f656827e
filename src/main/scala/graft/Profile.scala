package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only measurement harness (guide §1: measure first). Runs the named
  * queries once as warmup, once timed, and prints a per-call-site breakdown
  * of Spark job wall time for the timed pass — the attribution the Spark UI
  * would give, without a UI in this headless sandbox. Never invoked by the
  * driver; purely a local profiling tool.
  *
  *   sbt "runMain graft.Profile d40_crossmodal_pipeline"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val builder = SparkEntry.localBuilder()
    // A/B experiments: SPARK_GRAFT_PROFILE_CONF="k=v;k2=v2"
    sys.env.get("SPARK_GRAFT_PROFILE_CONF").foreach(_.split(";")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val agg = new java.util.concurrent.ConcurrentHashMap[String, (Double, Int)]()
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[
      String, (Double, Double, Double, Double, Int)]()
    var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            // description = the triggering action's call site; AQE/broadcast
            // sub-jobs carry the same execution id, so they attribute here
            execDesc.put(s.executionId, s.description)
          case _ =>
        }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execDesc.get(id.toLong)))
          .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("?")
        starts.put(js.jobId, (js.time, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (s != null && record) {
          val (t0, site) = s
          agg.merge(site, ((je.time - t0) / 1e3, 1),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (record) {
          val si = sc.stageInfo
          val m = si.taskMetrics
          stageAgg.put(f"stage${si.stageId}%05d ${si.name}",
            (m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
              m.jvmGCTime / 1e3, m.shuffleReadMetrics.fetchWaitTime / 1e3,
              si.numTasks))
        }
    })

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warmup (codegen/JIT), uncounted — mirrors Bench methodology
      fn(spark, sfDir).count()
      spark.catalog.clearCache()
      SparkEntry.sweepCatalogConfs(spark)
      agg.clear(); stageAgg.clear(); record = true
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.count()
      val t2 = System.nanoTime()
      record = false
      spark.catalog.clearCache()
      SparkEntry.sweepCatalogConfs(spark)
      println(f"%nPROFILE $name setup=${(t1 - t0) / 1e9}%.2fs query=${(t2 - t1) / 1e9}%.2fs")
      import scala.jdk.CollectionConverters._
      val rows = agg.asScala.toSeq.sortBy(-_._2._1)
      val tot = rows.map(_._2._1).sum
      println(f"  job wall total ${tot}%.2fs over ${rows.map(_._2._2).sum} jobs")
      rows.take(30).foreach { case (site, (sec, n)) =>
        println(f"  $sec%8.2fs  n=$n%-4d $site")
      }
      println("  -- stages (run s / cpu s / gc s / fetchwait s / tasks):")
      stageAgg.asScala.toSeq.sortBy(-_._2._1).take(25).foreach {
        case (name, (run, cpu, gc, fw, tasks)) =>
          println(f"  $run%8.2f $cpu%8.2f $gc%6.2f $fw%6.2f $tasks%5d  $name")
      }
    }
    spark.stop()
  }
}
