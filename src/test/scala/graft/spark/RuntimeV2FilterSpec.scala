package graft.spark

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.connector.expressions.{Expressions, Expression => V2Expression}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSuite
import graft.api.Collection

/** DSv2 runtime filtering (`SupportsRuntimeV2Filtering`): dynamic-pruning
  * predicates delivered AFTER static planning re-prune segments at the
  * source through the same stats/bloom machinery — a runtime IN on the join
  * key drops whole input partitions, not just post-scan rows. */
class RuntimeV2FilterSpec extends SparkSuite {
  import spark.implicits._

  private def buildScan(path: String): HadroScan = {
    val schema = graft.meta.CollectionMeta.readSchema(Paths.get(path)).get.schema
    val table = new HadroTable(Paths.get(path), schema)
    table.newScanBuilder(new CaseInsensitiveStringMap(java.util.Map.of("path", path)))
      .build().asInstanceOf[HadroScan]
  }

  test("runtime IN predicate re-prunes segments at the source") {
    val path = Files.createTempDirectory("rtv2").resolve("c").toString
    val src = spark.read.parquet(s"$sf0001/customer.parquet")
      .repartitionByRange(8, $"c_custkey")
    Collection.create(spark, path, src)

    val scan = buildScan(path)
    val before = scan.toBatch.planInputPartitions().length
    assert(before == 8, s"expected 8 ranged segments, got $before")

    // the shape Spark's dynamic pruning delivers: col IN (literals)
    val in = new Predicate("IN", Array[V2Expression](
      Expressions.column("c_custkey"),
      Expressions.literal(42L), Expressions.literal(43L)))
    scan.filter(Array(in))
    val after = scan.toBatch.planInputPartitions().length
    assert(after == 1, s"runtime IN should keep 1 of 8 segments, got $after")

    // a key outside every segment's range prunes the whole scan
    val miss = new Predicate("IN", Array[V2Expression](
      Expressions.column("c_custkey"), Expressions.literal(-5L)))
    val scan2 = buildScan(path)
    scan2.filter(Array(miss))
    assert(scan2.toBatch.planInputPartitions().isEmpty)

    // untranslatable predicates are ignored, not wrongly applied
    val odd = new Predicate("ALWAYS_TRUE", Array.empty[V2Expression])
    val scan3 = buildScan(path)
    scan3.filter(Array(odd))
    assert(scan3.toBatch.planInputPartitions().length == 8)
  }

  test("runtime filters never drop reported key-grouped buckets") {
    // With v2 bucketing ON, a scan that reported KeyGroupedPartitioning
    // must keep every reported bucket through runtime filtering — Spark
    // fails the query if the filtered partitions no longer reproduce the
    // reported groups. Runtime filters therefore skip segment pruning on
    // reported-bucketed scans (rows are still re-filtered post-scan).
    val path = Files.createTempDirectory("rtv2bkt").resolve("c").toString
    spark.read.parquet(s"$sf0001/customer.parquet")
      .repartition(4, pmod(xxhash64($"c_custkey"), lit(4)))
      .write.format("hadro").mode("append")
      .option("hadro.bucketBy", "c_custkey").option("hadro.buckets", "4")
      .save(path)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val scan = buildScan(path)
      val reported = scan.outputPartitioning()
      val kgp = reported.asInstanceOf[
        org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]
      val groups = kgp.numPartitions()
      assert(groups == 4)
      // a runtime IN that would statically keep only one bucket's segments
      val in = new Predicate("IN", Array[V2Expression](
        Expressions.column("c_custkey"), Expressions.literal(42L)))
      scan.filter(Array(in))
      val parts = scan.toBatch.planInputPartitions()
      val buckets = parts.collect {
        case b: BucketKeyedPartition => b.bucketId
      }.distinct.sorted
      assert(buckets.length == groups,
        s"runtime filter dropped reported buckets: kept ${buckets.mkString(",")}")
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("a scan plans identical partitions with and without a runtime filter") {
    // no runtime filter: the memoized static plan is reused; a runtime
    // filter that prunes nothing re-plans to the very same partitions
    val path = Files.createTempDirectory("rtv2same").resolve("c").toString
    val src = spark.read.parquet(s"$sf0001/customer.parquet")
      .repartitionByRange(8, $"c_custkey")
    Collection.create(spark, path, src)
    val schema = graft.meta.CollectionMeta.readSchema(Paths.get(path)).get.schema
    val b = new HadroTable(Paths.get(path), schema).newScanBuilder(
      new CaseInsensitiveStringMap(java.util.Map.of("path", path)))
      .asInstanceOf[HadroScanBuilder]
    b.pushFilters(Array(org.apache.spark.sql.sources.GreaterThan("c_custkey", 100L)))
    val scan = b.build().asInstanceOf[HadroScan]
    val static = scan.toBatch.planInputPartitions().toSeq
    assert(static.nonEmpty && static.length < 8, s"static pruning kept ${static.length}")
    assert(scan.toBatch.planInputPartitions().toSeq == static)
    scan.filter(Array(new Predicate(">=", Array[V2Expression](
      Expressions.column("c_custkey"), Expressions.literal(0L)))))
    assert(scan.toBatch.planInputPartitions().toSeq == static)
  }

  test("filterAttributes covers every stored column") {
    val path = Files.createTempDirectory("rtv2attr").resolve("c").toString
    Collection.create(spark, path, spark.read.parquet(s"$sf0001/region.parquet"))
    val attrs = buildScan(path).filterAttributes().map(_.fieldNames().mkString(".")).toSet
    assert(attrs == Set("r_regionkey", "r_name"))
  }

  test("equality predicate translates and preserves join results end-to-end") {
    val path = Files.createTempDirectory("rtv2e2e").resolve("c").toString
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select($"l_orderkey", $"l_quantity", $"l_partkey")
      .repartitionByRange(8, $"l_orderkey")
    Collection.create(spark, path, li)
    val fact = spark.read.format("hadro").load(path)
    val dim = spark.read.parquet(s"$sf0001/orders.parquet")
      .filter($"o_custkey" === 370L).select($"o_orderkey")
    val j = fact.join(dim, $"l_orderkey" === $"o_orderkey")
      .agg(count(lit(1)).as("n"), sum($"l_quantity").as("q"))
    val got = j.head()
    val want = li.join(dim, $"l_orderkey" === $"o_orderkey")
      .agg(count(lit(1)), sum($"l_quantity")).head()
    assert(got == want)
    // Spark actually DELIVERED a dynamic-pruning runtime filter to the
    // hadro scan (not merely: our translation would accept one).
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"),
      s"expected a dynamic-pruning runtime filter on the hadro scan:\n${plan.take(1500)}")
  }
}
