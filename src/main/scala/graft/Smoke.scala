package graft

/** Flagship smoke: runs [[SparkEntry.entry]] (the driver's rows>0 check)
  * and exits non-zero on an empty result. Optional args run named
  * [[SparkEntry.queries]] against a data dir for quick ad-hoc timing.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (args.length > 1) {
        val dir = args.head
        for (q <- args.tail) {
          val t0 = System.nanoTime()
          val n = SparkEntry.queries(q)(spark, dir).count()
          println(f"== $q: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2fs")
          spark.catalog.clearCache()
        }
      } else {
        val n = SparkEntry.entry(spark).count()
        println(s"== entry: $n rows")
        require(n > 0, "flagship entry returned 0 rows")
      }
    } finally spark.stop()
  }
}
