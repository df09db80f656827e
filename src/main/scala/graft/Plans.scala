package graft

/** Dev-only plan dumper: writes `.explain("formatted")` output for the named
  * queries to `<outDir>/<name>_<suffix>.txt` — the before/after evidence the
  * optimization rounds commit under plans/. Never invoked by the driver.
  *
  *   sbt "runMain graft.Plans /root/repo/plans/r18 before d04_ngram_jaccard ..."
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      spark.catalog.clearCache()
      SparkEntry.sweepCatalogConfs(spark)
      println(s"PLANS: wrote $name")
    }
    spark.stop()
  }
}
