package graft.spark

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.api.Collection
import graft.meta.CollectionMeta

/** Declared value partitioning (`PARTITIONED BY (days(ts))` / identity):
  * writes must route rows to one segment per transform value, the
  * catalog INSERT must cluster the input so a day lands in one segment,
  * and a time-range filter must prune to exactly the matching
  * partitions through the existing stats skipper — the 100 TB event-log
  * layout contract. */
class PartitionSpec extends SparkSuite {
  import spark.implicits._

  private def scanNode(df: org.apache.spark.sql.DataFrame): BatchScanExec = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val plan = df.queryExecution.executedPlan
    walk(plan).collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail(s"no BatchScanExec in:\n$plan"))
  }

  private def setupCatalog(name: String): String = {
    val w = Files.createTempDirectory(name).toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[HadroCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", w)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    w
  }

  test("days-partitioned table: one segment per day, range scan prunes to the day") {
    val w = setupCatalog("pdays")
    spark.sql("""CREATE TABLE pdays.db.events (id BIGINT, ts TIMESTAMP, v DOUBLE)
      USING hadro PARTITIONED BY (days(ts))""")
    // 5 days x 48 rows, arriving interleaved (the write must route, not rely
    // on input order)
    spark.range(0, 240)
      .select($"id",
        to_timestamp(lit("2026-03-01 00:00:00")).cast("timestamp")
          .plus(expr("make_interval(0, 0, 0, CAST(id % 5 AS INT), 0, CAST(id AS INT), 0)")).as("ts"),
        ($"id" * 1.5).as("v"))
      .createOrReplaceTempView("pdays_src")
    spark.sql("INSERT INTO pdays.db.events SELECT * FROM pdays_src")

    val dir = Paths.get(w, "db", "events")
    val segs = CollectionMeta.currentManifest(dir).segments
    // clustered INSERT: exactly one segment per day, every segment tagged
    assert(segs.length == 5, s"expected 5 day-segments, got ${segs.length}")
    val tags = segs.flatMap(_.partition)
    assert(tags.length == 5 && tags.distinct.length == 5, tags.mkString(","))
    // the declared layout survives round-trip
    val meta = CollectionMeta.readSchema(dir).get
    assert(meta.partitionBy.contains("ts") && meta.partitionTransform.contains("days"))

    // a one-day range scan plans exactly 1 of 5 segments via segment stats
    val df = spark.sql("""SELECT COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS s
      FROM pdays.db.events
      WHERE ts >= TIMESTAMP '2026-03-03 00:00:00' AND ts < TIMESTAMP '2026-03-04 00:00:00'""")
    val rows = df.collect()
    assert(rows.head.getLong(0) == 48L, rows.head.toString)
    val m = scanNode(df).metrics
    assert(m("hadroSegmentsRead").value == 1L, m("hadroSegmentsRead").value)
    assert(m("hadroSegmentsPruned").value == 4L, m("hadroSegmentsPruned").value)
    spark.sql("DROP TABLE pdays.db.events")
  }

  test("identity-partitioned table routes per value and prunes equality scans") {
    val w = setupCatalog("pident")
    spark.sql("""CREATE TABLE pident.db.docs (id BIGINT, region STRING)
      USING hadro PARTITIONED BY (region)""")
    spark.range(0, 90)
      .select($"id", concat(lit("r"), ($"id" % 3).cast("string")).as("region"))
      .createOrReplaceTempView("pident_src")
    spark.sql("INSERT INTO pident.db.docs SELECT * FROM pident_src")
    val dir = Paths.get(w, "db", "docs")
    val segs = CollectionMeta.currentManifest(dir).segments
    assert(segs.length == 3, s"expected 3 region-segments, got ${segs.length}")
    assert(segs.flatMap(_.partition).sorted == Seq("r0", "r1", "r2"))
    val df = spark.sql("SELECT COUNT(*) AS n FROM pident.db.docs WHERE region = 'r1'")
    assert(df.collect().head.getLong(0) == 30L)
    val m = scanNode(df).metrics
    assert(m("hadroSegmentsRead").value == 1L && m("hadroSegmentsPruned").value == 2L)
    // observability: the partition tag surfaces in the metadata tables
    val files = spark.sql(
      "SELECT partition FROM pident.db.docs.files ORDER BY partition")
      .collect().map(_.getString(0)).toSeq
    assert(files == Seq("r0", "r1", "r2"), files.toString)
    val detail = spark.sql(
      "SELECT partition_by, partition_transform FROM pident.db.docs.detail")
      .collect().head
    assert(detail.getString(0) == "region" && detail.getString(1) == "identity")
    spark.sql("DROP TABLE pident.db.docs")
  }

  test("plain appends (path API) keep the declared layout") {
    val w = setupCatalog("pappend")
    spark.sql("""CREATE TABLE pappend.db.ev (id BIGINT, ts TIMESTAMP)
      USING hadro PARTITIONED BY (days(ts))""")
    val dir = Paths.get(w, "db", "ev").toString
    // a path-based append (no catalog, no clustered distribution) must
    // still route per day — more segments possible, never mixed days
    val df = spark.range(0, 40).select($"id",
      to_timestamp(lit("2026-04-01 00:00:00"))
        .plus(expr("make_interval(0, 0, 0, CAST(id % 2 AS INT), 0, 0, 0)")).as("ts"))
      .repartition(2)
    df.write.format("hadro").mode("append").save(dir)
    val segs = CollectionMeta.currentManifest(Paths.get(dir)).segments
    assert(segs.nonEmpty && segs.forall(_.partition.isDefined))
    // every segment holds exactly one day: its ts stats span < 1 day
    segs.foreach { s =>
      val st = s.stats("ts")
      assert(st.min.isDefined && st.max.isDefined, s"no ts stats on ${s.file}")
    }
    val byTag = segs.groupBy(_.partition.get)
    assert(byTag.keySet.size == 2, byTag.keySet.toString)
    spark.sql("DROP TABLE pappend.db.ev")
  }

  test("compaction preserves the partition layout (one segment per day)") {
    val w = setupCatalog("pcompact")
    spark.sql("""CREATE TABLE pcompact.db.ev (id BIGINT, ts TIMESTAMP)
      USING hadro PARTITIONED BY (days(ts))""")
    val dir = Paths.get(w, "db", "ev")
    // three appends over the same 3 days -> 9 day-segments
    (0 until 3).foreach { b =>
      spark.range(b * 30, b * 30 + 30).select($"id",
        to_timestamp(lit("2026-05-01 00:00:00"))
          .plus(expr("make_interval(0, 0, 0, CAST(id % 3 AS INT), 0, 0, 0)")).as("ts"))
        .createOrReplaceTempView("pcompact_src")
      spark.sql("INSERT INTO pcompact.db.ev SELECT * FROM pcompact_src")
    }
    assert(CollectionMeta.currentManifest(dir).segments.length == 9)
    Collection(spark, dir.toString).compact()
    val segs = CollectionMeta.currentManifest(dir).segments
    // the rewrite is clustered by the transform: back to one per day
    assert(segs.length == 3, s"expected 3 day-segments after compact, got ${segs.length}")
    assert(segs.flatMap(_.partition).distinct.length == 3)
    val df = spark.sql("""SELECT COUNT(*) AS n FROM pcompact.db.ev
      WHERE ts >= TIMESTAMP '2026-05-02 00:00:00'
        AND ts < TIMESTAMP '2026-05-03 00:00:00'""")
    assert(df.collect().head.getLong(0) == 30L)
    val m = scanNode(df).metrics
    assert(m("hadroSegmentsRead").value == 1L && m("hadroSegmentsPruned").value == 2L)
    spark.sql("DROP TABLE pcompact.db.ev")
  }

  test("compaction clustering is timezone-free (non-UTC session, days stay whole)") {
    val w = setupCatalog("ptz")
    spark.sql("""CREATE TABLE ptz.db.ev (id BIGINT, ts TIMESTAMP)
      USING hadro PARTITIONED BY (days(ts))""")
    val dir = Paths.get(w, "db", "ev")
    // rows straddling UTC midnight: a session-zoned date_trunc would
    // group them by LOCAL day and split every UTC day across segments
    (0 until 2).foreach { _ =>
      spark.range(0, 48).select($"id",
        to_timestamp(lit("2026-08-01 22:00:00"))
          .plus(expr("make_interval(0, 0, 0, 0, CAST(id AS INT), 0, 0)")).as("ts"))
        .createOrReplaceTempView("ptz_src")
      spark.sql("INSERT INTO ptz.db.ev SELECT * FROM ptz_src")
    }
    val savedTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try Collection(spark, dir.toString).compact()
    finally spark.conf.set("spark.sql.session.timeZone", savedTz)
    val segs = CollectionMeta.currentManifest(dir).segments
    // 48 hours from 22:00 UTC touch 3 UTC days -> exactly 3 segments,
    // regardless of the session timezone the compaction ran under
    assert(segs.length == 3, s"expected 3 UTC-day segments, got ${segs.length}")
    assert(segs.flatMap(_.partition).distinct.length == 3)
    assert(spark.sql("SELECT COUNT(*) AS n FROM ptz.db.ev")
      .collect().head.getLong(0) == 96L)
    spark.sql("DROP TABLE ptz.db.ev")
  }

  test("compact_partitions: one partition rewritten, the rest carried by reference") {
    val w = setupCatalog("pscoped")
    spark.sql("""CREATE TABLE pscoped.db.ev (id BIGINT, ts TIMESTAMP)
      USING hadro PARTITIONED BY (days(ts))""")
    val dir = Paths.get(w, "db", "ev")
    (0 until 3).foreach { b =>
      spark.range(b * 30, b * 30 + 30).select($"id",
        to_timestamp(lit("2026-11-01 00:00:00"))
          .plus(expr("make_interval(0, 0, 0, CAST(id % 3 AS INT), 0, 0, 0)")).as("ts"))
        .coalesce(1).createOrReplaceTempView("pscoped_src")
      spark.sql("INSERT INTO pscoped.db.ev SELECT * FROM pscoped_src")
    }
    val segs0 = CollectionMeta.currentManifest(dir).segments
    assert(segs0.length == 9)
    val day1 = (java.time.LocalDate.of(2026, 11, 2).toEpochDay).toString
    val untouched = segs0.filterNot(_.partition.contains(day1)).map(_.file).toSet
    // SQL: compact ONLY the hot day
    val out = spark.sql(
      s"CALL pscoped.system.compact_partitions('db.ev', '$day1')").collect().head
    assert(out.getInt(0) == 1, out.toString)
    val segs1 = CollectionMeta.currentManifest(dir).segments
    assert(segs1.length == 7, s"expected 7 segments, got ${segs1.length}")
    assert(segs1.count(_.partition.contains(day1)) == 1)
    // the other partitions' files were carried by REFERENCE, not rewritten
    assert(segs1.filterNot(_.partition.contains(day1)).map(_.file).toSet == untouched)
    // empty tags = every fragmented partition
    val c = Collection(spark, dir.toString)
    assert(c.compactPartitions() == 2)
    assert(CollectionMeta.currentManifest(dir).segments.length == 3)
    assert(spark.sql("SELECT COUNT(*) AS n FROM pscoped.db.ev")
      .collect().head.getLong(0) == 90L)
    // guard: mutated collections keep compactSmall's contiguity discipline
    spark.sql("""CREATE TABLE pscoped.db.kv (id BIGINT, ts TIMESTAMP)
      USING hadro PARTITIONED BY (days(ts)) TBLPROPERTIES('key'='id')""")
    spark.sql("INSERT INTO pscoped.db.kv SELECT * FROM pscoped_src")
    val kv = Collection(spark, Paths.get(w, "db", "kv").toString)
    kv.set(Seq((1L, java.sql.Timestamp.valueOf("2026-11-01 00:00:00")))
      .toDF("id", "ts"))
    val e = intercept[Exception](kv.compactPartitions())
    assert(e.getMessage.contains("pure-append"), e.getMessage)
    // a declared sort survives: each partition is re-sorted and declares
    // it again (a replace commit that does not re-declare it clears it)
    spark.sql("""CREATE TABLE pscoped.db.srt (id BIGINT, ts TIMESTAMP)
      USING hadro PARTITIONED BY (days(ts)) TBLPROPERTIES('sortedBy'='id')""")
    (0 until 2).foreach(_ => spark.sql("INSERT INTO pscoped.db.srt SELECT * FROM pscoped_src"))
    val srt = Paths.get(w, "db", "srt")
    assert(CollectionMeta.currentManifest(srt).sortedBy.contains("id"))
    assert(Collection(spark, srt.toString).compactPartitions() == 3)
    val ms = CollectionMeta.currentManifest(srt)
    assert(ms.sortedBy.contains("id"), "compactPartitions dropped the declared sort")
    ms.segments.foreach { s =>
      val ids = spark.read.format("hadro").option("hadro.files", s.file)
        .load(srt.toString).select($"id").as[Long].collect().toSeq
      assert(ids == ids.sorted, s"segment ${s.file} out of order: $ids")
    }
    spark.sql("DROP TABLE pscoped.db.ev")
    spark.sql("DROP TABLE pscoped.db.kv")
    spark.sql("DROP TABLE pscoped.db.srt")
  }

  test("drop_partitions: metadata-only retention, time travel survives, guards hold") {
    val w = setupCatalog("pdrop")
    spark.sql("""CREATE TABLE pdrop.db.ev (id BIGINT, ts TIMESTAMP)
      USING hadro PARTITIONED BY (days(ts))""")
    val dir = Paths.get(w, "db", "ev")
    spark.range(0, 100).select($"id",
      to_timestamp(lit("2026-06-01 00:00:00"))
        .plus(expr("make_interval(0, 0, 0, CAST(id % 5 AS INT), 0, 0, 0)")).as("ts"))
      .createOrReplaceTempView("pdrop_src")
    spark.sql("INSERT INTO pdrop.db.ev SELECT * FROM pdrop_src")
    val preDrop = Collection(spark, dir.toString).version
    // cutoff = the day tag of 2026-06-03 (days since epoch, the writer's tag)
    val cutoff = java.time.LocalDate.of(2026, 6, 3).toEpochDay.toString
    val out = spark.sql(
      s"CALL pdrop.system.drop_partitions('db.ev', '$cutoff')").collect().head
    assert(out.getInt(0) == 2, s"expected 2 segments dropped, got $out")
    // the head reads only the surviving days — zero data was rewritten
    val n = spark.sql("SELECT COUNT(*) AS n FROM pdrop.db.ev").collect().head.getLong(0)
    assert(n == 60L, s"expected 60 surviving rows, got $n")
    assert(CollectionMeta.currentManifest(dir).segments.length == 3)
    // time travel across the drop still reads the full snapshot
    val before = spark.sql(
      s"SELECT COUNT(*) AS n FROM pdrop.db.ev VERSION AS OF $preDrop")
      .collect().head.getLong(0)
    assert(before == 100L, s"pre-drop snapshot must keep all rows, got $before")
    // guard: a date-string cutoff on a numeric-ordinal transform errors
    // instead of falling back to lexicographic order (which would compare
    // "20239" < "2026-06-03" and silently mass-drop nearly everything)
    val eNum = intercept[Exception](
      Collection(spark, dir.toString).dropPartitions("2026-06-03"))
    assert(eNum.getMessage.contains("integer ordinal"), eNum.getMessage)
    // guard: a mutated collection refuses (could lose tombstones/LWW heads)
    spark.sql("""CREATE TABLE pdrop.db.kv (id BIGINT, ts TIMESTAMP)
      USING hadro PARTITIONED BY (days(ts)) TBLPROPERTIES('key'='id')""")
    spark.sql("INSERT INTO pdrop.db.kv SELECT * FROM pdrop_src")
    val kv = Collection(spark, Paths.get(w, "db", "kv").toString)
    kv.set(Seq((1L, java.sql.Timestamp.valueOf("2026-06-01 00:00:00")))
      .toDF("id", "ts"))
    val e = intercept[Exception](kv.dropPartitions(cutoff))
    assert(e.getMessage.contains("pure-append"), e.getMessage)
    // guard: undeclared layout refuses
    spark.sql("CREATE TABLE pdrop.db.plain (id BIGINT) USING hadro")
    spark.sql("INSERT INTO pdrop.db.plain VALUES (1)")
    val e2 = intercept[Exception](
      Collection(spark, Paths.get(w, "db", "plain").toString).dropPartitions("5"))
    assert(e2.getMessage.contains("partition transform"), e2.getMessage)
    spark.sql("DROP TABLE pdrop.db.ev")
    spark.sql("DROP TABLE pdrop.db.kv")
    spark.sql("DROP TABLE pdrop.db.plain")
  }

  test("co-identity-partitioned collections join with zero exchanges (SPJ)") {
    val w = setupCatalog("pspj")
    spark.sql("""CREATE TABLE pspj.db.l (k BIGINT, v BIGINT)
      USING hadro PARTITIONED BY (k)""")
    spark.sql("""CREATE TABLE pspj.db.r (k BIGINT, t STRING)
      USING hadro PARTITIONED BY (k)""")
    spark.range(0, 100).select(($"id" % 5).as("k"), $"id".as("v"))
      .createOrReplaceTempView("pspj_l")
    spark.range(0, 60).select(($"id" % 5).as("k"),
      concat(lit("t"), $"id").as("t")).createOrReplaceTempView("pspj_r")
    spark.sql("INSERT INTO pspj.db.l SELECT * FROM pspj_l")
    spark.sql("INSERT INTO pspj.db.r SELECT * FROM pspj_r")
    val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("pspj.db.l").join(spark.table("pspj.db.r"), "k")
        .groupBy($"k").agg(count(lit(1)).as("n"))
      val got = j.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // 20 left rows x 12 right rows per key
      assert(got == (0L until 5L).map(_ -> 240L).toMap, got.toString)
      // value partitions are provably single-valued (exact min==max
      // stats), so the scans report identity(k) KeyGroupedPartitioning
      // and the join plans with ZERO exchanges — the value-partitioned
      // analog of the bucket SPJ contract
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected a zero-exchange identity-partitioned join plan:\n$plan")
      // a second append doubles the segments (two per value): Spark must
      // coalesce same-key partitions into one group — still exchange-free,
      // counts doubled on the left side
      spark.sql("INSERT INTO pspj.db.l SELECT * FROM pspj_l")
      val j2 = spark.table("pspj.db.l").join(spark.table("pspj.db.r"), "k")
        .groupBy($"k").agg(count(lit(1)).as("n"))
      val got2 = j2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got2 == (0L until 5L).map(_ -> 480L).toMap, got2.toString)
      val plan2 = j2.queryExecution.executedPlan.toString
      assert(!plan2.contains("Exchange"),
        s"multi-segment-per-value join must stay exchange-free:\n$plan2")
    } finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      spark.sql("DROP TABLE pspj.db.l")
      spark.sql("DROP TABLE pspj.db.r")
    }
  }

  test("co-days-partitioned collections join with zero exchanges (transform SPJ)") {
    val w = setupCatalog("pdspj")
    spark.sql("""CREATE TABLE pdspj.db.l (ts TIMESTAMP, v BIGINT)
      USING hadro PARTITIONED BY (days(ts))""")
    spark.sql("""CREATE TABLE pdspj.db.r (ts TIMESTAMP, t STRING)
      USING hadro PARTITIONED BY (days(ts))""")
    // in-day spread (several hours per day): identity min==max can never
    // hold, so only the transform-ordinal proof can enable the SPJ
    spark.range(0, 100)
      .select(to_timestamp(lit("2026-04-01 00:00:00")).cast("timestamp")
        .plus(expr("make_interval(0, 0, 0, CAST(id % 5 AS INT), CAST(id % 3 AS INT), 0, 0)")).as("ts"),
        $"id".as("v"))
      .createOrReplaceTempView("pdspj_l")
    spark.range(0, 60)
      .select(to_timestamp(lit("2026-04-01 00:00:00")).cast("timestamp")
        .plus(expr("make_interval(0, 0, 0, CAST(id % 5 AS INT), CAST(id % 3 AS INT), 0, 0)")).as("ts"),
        concat(lit("t"), $"id").as("t"))
      .createOrReplaceTempView("pdspj_r")
    spark.sql("INSERT INTO pdspj.db.l SELECT * FROM pdspj_l")
    spark.sql("INSERT INTO pdspj.db.r SELECT * FROM pdspj_r")
    val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("pdspj.db.l").join(spark.table("pdspj.db.r"), "ts")
        .groupBy($"ts").agg(count(lit(1)).as("n"))
      val got = j.collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      val want = spark.table("pdspj_l").join(spark.table("pdspj_r"), "ts")
        .groupBy($"ts").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(got == want && got.nonEmpty, s"got $got want $want")
      // every planned segment is provably single-valued under days(ts)
      // (exact stats bounds on one ordinal), so both scans report
      // days(ts) KeyGroupedPartitioning and the join needs NO exchange
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected a zero-exchange days-partitioned join plan:\n$plan")
    } finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      spark.sql("DROP TABLE pdspj.db.l")
      spark.sql("DROP TABLE pdspj.db.r")
    }
  }

  test("months-transform SPJ: coarse granularities ride the same ordinal proof") {
    val w = setupCatalog("pmspj")
    spark.sql("""CREATE TABLE pmspj.db.l (ts TIMESTAMP, v BIGINT)
      USING hadro PARTITIONED BY (months(ts))""")
    spark.sql("""CREATE TABLE pmspj.db.r (ts TIMESTAMP, t STRING)
      USING hadro PARTITIONED BY (months(ts))""")
    // in-month day/hour spread: identity min==max can never hold
    spark.range(0, 90)
      .select(to_timestamp(lit("2026-01-01 00:00:00")).cast("timestamp")
        .plus(expr("make_interval(0, CAST(id % 4 AS INT), 0, CAST(id % 20 AS INT), CAST(id % 7 AS INT), 0, 0)")).as("ts"),
        $"id".as("v"))
      .createOrReplaceTempView("pmspj_l")
    spark.range(0, 50)
      .select(to_timestamp(lit("2026-01-01 00:00:00")).cast("timestamp")
        .plus(expr("make_interval(0, CAST(id % 4 AS INT), 0, CAST(id % 20 AS INT), CAST(id % 7 AS INT), 0, 0)")).as("ts"),
        concat(lit("t"), $"id").as("t"))
      .createOrReplaceTempView("pmspj_r")
    spark.sql("INSERT INTO pmspj.db.l SELECT * FROM pmspj_l")
    spark.sql("INSERT INTO pmspj.db.r SELECT * FROM pmspj_r")
    val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("pmspj.db.l").join(spark.table("pmspj.db.r"), "ts")
        .groupBy($"ts").agg(count(lit(1)).as("n"))
      val got = j.collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      val want = spark.table("pmspj_l").join(spark.table("pmspj_r"), "ts")
        .groupBy($"ts").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(got == want && got.nonEmpty, s"got $got want $want")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected a zero-exchange months-partitioned join plan:\n$plan")
    } finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      spark.sql("DROP TABLE pmspj.db.l")
      spark.sql("DROP TABLE pmspj.db.r")
    }
  }

  test("hours-transform SPJ and the writerV2 overwritePartitions API") {
    val w = setupCatalog("phspj")
    spark.sql("""CREATE TABLE phspj.db.l (ts TIMESTAMP, v BIGINT)
      USING hadro PARTITIONED BY (hours(ts))""")
    spark.sql("""CREATE TABLE phspj.db.r (ts TIMESTAMP, t STRING)
      USING hadro PARTITIONED BY (hours(ts))""")
    // minute-level spread inside each hour: only the hours() ordinal
    // proof can report the grouping
    spark.range(0, 80)
      .select(to_timestamp(lit("2026-06-01 00:00:00")).cast("timestamp")
        .plus(expr("make_interval(0, 0, 0, 0, CAST(id % 4 AS INT), CAST(id % 7 AS INT), 0)")).as("ts"),
        $"id".as("v"))
      .createOrReplaceTempView("phspj_l")
    spark.range(0, 40)
      .select(to_timestamp(lit("2026-06-01 00:00:00")).cast("timestamp")
        .plus(expr("make_interval(0, 0, 0, 0, CAST(id % 4 AS INT), CAST(id % 7 AS INT), 0)")).as("ts"),
        concat(lit("t"), $"id").as("t"))
      .createOrReplaceTempView("phspj_r")
    spark.sql("INSERT INTO phspj.db.l SELECT * FROM phspj_l")
    spark.sql("INSERT INTO phspj.db.r SELECT * FROM phspj_r")
    val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("phspj.db.l").join(spark.table("phspj.db.r"), "ts")
        .groupBy($"ts").agg(count(lit(1)).as("n"))
      val got = j.collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      val want = spark.table("phspj_l").join(spark.table("phspj_r"), "ts")
        .groupBy($"ts").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(got == want && got.nonEmpty)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected a zero-exchange hours-partitioned join plan:\n$plan")
    } finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
    }
    // DataFrameWriterV2.overwritePartitions — the explicit dynamic API
    // (no session conf involved) — replaces exactly the hour present in
    // the written frame
    val before = CollectionMeta.currentManifest(Paths.get(w, "db", "l")).segments
      .map(s => s.partition.get -> s.file).toMap
    spark.table("phspj_l").filter(hour($"ts") === 2)
      .select($"ts", ($"v" * 10).as("v"))
      .writeTo("phspj.db.l").overwritePartitions()
    val after = CollectionMeta.currentManifest(Paths.get(w, "db", "l")).segments
      .map(s => s.partition.get -> s.file).toMap
    assert(after.size == before.size)
    val changed = before.keys.filter(t => after(t) != before(t)).toSeq
    assert(changed.length == 1, s"expected exactly one replaced hour, got $changed")
    val sum = spark.table("phspj.db.l").agg(sum_distinct(lit(0L)) * 0 + expr("sum(v)"))
      .collect().head.getLong(0)
    val base = (0L until 80L).map(id => if (id % 4 == 2) id * 10 else id).sum
    assert(sum == base, s"sum $sum != $base")
    spark.sql("DROP TABLE phspj.db.l")
    spark.sql("DROP TABLE phspj.db.r")
  }

  test("respec then compact_partitions migrates coarse partitions to the finer spec") {
    val w = setupCatalog("pmig")
    spark.sql("""CREATE TABLE pmig.db.ev (id BIGINT, ts TIMESTAMP)
      USING hadro PARTITIONED BY (days(ts))""")
    // one day spanning 3 distinct hours, written under the days() spec
    spark.range(0, 30)
      .select($"id", to_timestamp(lit("2026-07-01 00:00:00")).cast("timestamp")
        .plus(expr("make_interval(0, 0, 0, 0, CAST(id % 3 AS INT), 0, 0)")).as("ts"))
      .createOrReplaceTempView("pmig_src")
    spark.sql("INSERT INTO pmig.db.ev SELECT * FROM pmig_src")
    val dir = Paths.get(w, "db", "ev")
    assert(CollectionMeta.currentManifest(dir).segments.length == 1)
    val c = Collection(spark, dir.toString)
    c.setPartitionTransform("hours")
    // migration = explicitly compacting the old coarse partition: an
    // explicitly-named tag rewrites even as a single segment, and the
    // rewrite re-routes rows under the CURRENT (finer) spec
    val dayTag = java.time.LocalDate.of(2026, 7, 1).toEpochDay.toString
    assert(c.compactPartitions(Seq(dayTag)) == 1)
    val segs = CollectionMeta.currentManifest(dir).segments
    assert(segs.length == 3, segs.map(_.partition).toString)
    val tags = segs.flatMap(_.partition).map(_.toLong).sorted
    val hour0 = java.time.LocalDate.of(2026, 7, 1).toEpochDay * 24
    assert(tags == Seq(hour0, hour0 + 1, hour0 + 2), tags.toString)
    assert(spark.table("pmig.db.ev").count() == 30L)
    // the default sweep still ignores healthy single-segment partitions
    assert(c.compactPartitions() == 0)
    spark.sql("DROP TABLE pmig.db.ev")
  }

  test("dynamic overwrite refuses to replace across a respec until migration") {
    val w = setupCatalog("pdynr")
    spark.sql("""CREATE TABLE pdynr.db.ev (id BIGINT, ts TIMESTAMP)
      USING hadro PARTITIONED BY (days(ts))""")
    spark.range(0, 30)
      .select($"id", to_timestamp(lit("2026-08-01 00:00:00")).cast("timestamp")
        .plus(expr("make_interval(0, 0, 0, 0, CAST(id % 3 AS INT), 0, 0)")).as("ts"))
      .createOrReplaceTempView("pdynr_src")
    spark.sql("INSERT INTO pdynr.db.ev SELECT * FROM pdynr_src")
    val dir = Paths.get(w, "db", "ev")
    val c = Collection(spark, dir.toString)
    c.setPartitionTransform("hours")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // hour 1 of the day is still inside the old DAY-tagged segment:
      // replacing only the (nonexistent) hour partition would leave the
      // stale rows in place — must conflict, not silently mix
      val e = intercept[Exception](spark.sql("""INSERT OVERWRITE pdynr.db.ev
        SELECT id + 1000, ts FROM pdynr_src
        WHERE ts >= TIMESTAMP '2026-08-01 01:00:00'
          AND ts < TIMESTAMP '2026-08-01 02:00:00'"""))
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
      assert(chain(e).exists(x => Option(x.getMessage)
        .exists(_.contains("dynamic partition overwrite"))), s"unexpected: $e")
      assert(spark.table("pdynr.db.ev").count() == 30L) // nothing dropped
      // migrate the coarse day under the new spec, then the same
      // overwrite lands cleanly
      val dayTag = java.time.LocalDate.of(2026, 8, 1).toEpochDay.toString
      assert(c.compactPartitions(Seq(dayTag)) == 1)
      spark.sql("""INSERT OVERWRITE pdynr.db.ev
        SELECT id + 1000, ts FROM pdynr_src
        WHERE ts >= TIMESTAMP '2026-08-01 01:00:00'
          AND ts < TIMESTAMP '2026-08-01 02:00:00'""")
      assert(spark.table("pdynr.db.ev").count() == 30L)
      // hour 1 now holds ONLY the overwritten ids
      assert(spark.table("pdynr.db.ev")
        .filter($"ts" >= lit("2026-08-01 01:00:00") && $"ts" < lit("2026-08-01 02:00:00"))
        .agg(min($"id")).collect().head.getLong(0) >= 1000L)
    } finally {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      spark.sql("DROP TABLE pdynr.db.ev")
    }
  }

  test("over-long identity values: SPJ refuses (inexact stats), joins stay correct") {
    // identity-string values past the 64-char stats bound truncate with
    // exact=false — the scan must then NOT report KeyGroupedPartitioning
    // (a truncated bound cannot prove single-valuedness), and the join
    // falls back to ordinary exchanges with correct results. Retention
    // is equally conservative: dropPartitions keeps inexact segments.
    val w = setupCatalog("plong")
    spark.sql("""CREATE TABLE plong.db.l (k STRING, v BIGINT)
      USING hadro PARTITIONED BY (k)""")
    spark.range(0, 30).select(
        concat(lit("verylongtenantprefix_" * 4), ($"id" % 3).cast("string")).as("k"),
        $"id".as("v"))
      .createOrReplaceTempView("plong_src")
    spark.sql("INSERT INTO plong.db.l SELECT * FROM plong_src")
    val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val df = spark.table("plong.db.l").groupBy($"k").agg(count(lit(1)).as("n"))
      assert(df.collect().map(_.getLong(1)).toSeq == Seq(10L, 10L, 10L))
      // the scan must report UNKNOWN partitioning (an Exchange plans)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"),
        s"inexact stats must refuse KeyGrouped reporting:\n$plan")
      // retention: inexact bounds are conservatively KEPT, never dropped
      val c = Collection(spark,
        java.nio.file.Paths.get(w, "db", "l").toString)
      assert(c.dropPartitions("zzzz") == 0,
        "truncated-stats segments must never drop on a string cutoff")
    } finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      spark.sql("DROP TABLE plong.db.l")
    }
  }

  test("transform validation fails fast at CREATE") {
    setupCatalog("pval")
    // time transform over a non-time column
    val e1 = intercept[Exception](spark.sql(
      """CREATE TABLE pval.db.bad1 (id BIGINT, s STRING)
        USING hadro PARTITIONED BY (days(s))"""))
    assert(e1.getMessage.contains("does not support"), e1.getMessage)
    // hours needs sub-day resolution
    val e2 = intercept[Exception](spark.sql(
      """CREATE TABLE pval.db.bad2 (id BIGINT, d DATE)
        USING hadro PARTITIONED BY (hours(d))"""))
    assert(e2.getMessage.contains("does not support"), e2.getMessage)
    // one declared dimension only
    val e3 = intercept[Exception](spark.sql(
      """CREATE TABLE pval.db.bad3 (id BIGINT, ts TIMESTAMP, s STRING)
        USING hadro PARTITIONED BY (days(ts), s)"""))
    assert(e3.getMessage.contains("single"), e3.getMessage)
  }

  test("hours/months/years transforms: tag math and end-to-end hourly routing") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    // tag math against java.time ground truth (timestamps are epoch µs)
    def microsOf(s: String): Long =
      java.time.Instant.parse(s).toEpochMilli * 1000L
    def tag(micros: Long, t: String): String =
      HadroPartition.tagOf(TimestampType,
        new GenericInternalRow(Array[Any](micros)), 0, t)
    val ts = microsOf("2026-03-05T17:30:00Z")
    assert(tag(ts, "days") == java.time.LocalDate.of(2026, 3, 5).toEpochDay.toString)
    assert(tag(ts, "hours") == (microsOf("2026-03-05T17:00:00Z") / 3600000000L).toString)
    assert(tag(ts, "months") == ((2026 - 1970) * 12 + 2).toString)
    assert(tag(ts, "years") == (2026 - 1970).toString)
    // negative epochs floor correctly (floorDiv, not integer division)
    val pre = microsOf("1969-12-31T23:00:00Z")
    assert(tag(pre, "days") == "-1" && tag(pre, "hours") == "-1")
    // date-typed sources
    def dtag(epochDay: Int, t: String): String =
      HadroPartition.tagOf(DateType,
        new GenericInternalRow(Array[Any](epochDay)), 0, t)
    val d = java.time.LocalDate.of(2026, 3, 5).toEpochDay.toInt
    assert(dtag(d, "days") == d.toString && dtag(d, "years") == "56")
    // end-to-end: an hours-partitioned table routes per hour and prunes
    val w = setupCatalog("phours")
    spark.sql("""CREATE TABLE phours.db.ev (id BIGINT, ts TIMESTAMP)
      USING hadro PARTITIONED BY (hours(ts))""")
    spark.range(0, 40).select($"id",
      to_timestamp(lit("2026-03-05 10:00:00"))
        .plus(expr("make_interval(0, 0, 0, 0, CAST(id % 4 AS INT), 0, 0)")).as("ts"))
      .createOrReplaceTempView("phours_src")
    spark.sql("INSERT INTO phours.db.ev SELECT * FROM phours_src")
    val segs = CollectionMeta.currentManifest(Paths.get(w, "db", "ev")).segments
    assert(segs.length == 4 && segs.flatMap(_.partition).distinct.length == 4,
      segs.map(_.partition).toString)
    val df = spark.sql("""SELECT COUNT(*) AS n FROM phours.db.ev
      WHERE ts >= TIMESTAMP '2026-03-05 12:00:00'
        AND ts < TIMESTAMP '2026-03-05 13:00:00'""")
    assert(df.collect().head.getLong(0) == 10L)
    val m = scanNode(df).metrics
    assert(m("hadroSegmentsRead").value == 1L && m("hadroSegmentsPruned").value == 3L)
    spark.sql("DROP TABLE phours.db.ev")
    // months over a DATE column exercises the DateType V2-function
    // binding on the INSERT's clustered distribution end-to-end
    spark.sql("""CREATE TABLE phours.db.mv (id BIGINT, d DATE)
      USING hadro PARTITIONED BY (months(d))""")
    spark.range(0, 60).select($"id",
      date_add(to_date(lit("2026-01-15")), ($"id" % 3 * 31).cast("int")).as("d"))
      .createOrReplaceTempView("phours_msrc")
    spark.sql("INSERT INTO phours.db.mv SELECT * FROM phours_msrc")
    val msegs = CollectionMeta.currentManifest(Paths.get(w, "db", "mv")).segments
    assert(msegs.length == 3 && msegs.flatMap(_.partition).sorted ==
      Seq("672", "673", "674"), msegs.map(_.partition).toString)
    spark.sql("DROP TABLE phours.db.mv")
  }

  test("dynamic partition overwrite replaces only the batch's partitions") {
    val w = setupCatalog("pdyn")
    spark.sql("""CREATE TABLE pdyn.db.ev (id BIGINT, ts TIMESTAMP, v DOUBLE)
      USING hadro PARTITIONED BY (days(ts))""")
    spark.range(0, 240)
      .select($"id",
        to_timestamp(lit("2026-03-01 00:00:00")).cast("timestamp")
          .plus(expr("make_interval(0, 0, 0, CAST(id % 5 AS INT), 0, 0, 0)")).as("ts"),
        ($"id" * 1.5).as("v"))
      .createOrReplaceTempView("pdyn_src")
    spark.sql("INSERT INTO pdyn.db.ev SELECT * FROM pdyn_src")
    val dir = Paths.get(w, "db", "ev")
    val before = CollectionMeta.currentManifest(dir).segments
      .map(s => s.partition.get -> s.file).toMap
    assert(before.size == 5)

    // reprocess days 2 and 3 (v doubled) — only those two partitions replace
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql("""INSERT OVERWRITE pdyn.db.ev
        SELECT id, ts, v * 2 FROM pdyn_src WHERE id % 5 IN (2, 3)""")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")

    val after = CollectionMeta.currentManifest(dir).segments
    assert(after.length == 5, after.map(_.partition).toString)
    val afterByTag = after.map(s => s.partition.get -> s.file).toMap
    val sortedTags = before.keys.toSeq.sortBy(_.toLong)
    val (d2, d3) = (sortedTags(2), sortedTags(3))
    // untouched days carried byte-identical (same files, by reference)
    before.keys.filterNot(Set(d2, d3)).foreach(t =>
      assert(afterByTag(t) == before(t), s"untouched partition $t was rewritten"))
    // replaced days got fresh files
    assert(afterByTag(d2) != before(d2) && afterByTag(d3) != before(d3))
    // content: replaced days doubled, others original
    val rows = spark.sql("""SELECT CAST(id % 5 AS INT) AS d,
        SUM(CAST(v AS DECIMAL(18,1))) AS s FROM pdyn.db.ev GROUP BY 1 ORDER BY 1""")
      .collect().map(r => r.getInt(0) -> r.getDecimal(1).doubleValue()).toMap
    val base = (0 until 5).map(d => d -> (0 until 240).filter(_ % 5 == d).map(_ * 1.5).sum).toMap
    assert(rows(0) == base(0) && rows(1) == base(1) && rows(4) == base(4), rows.toString)
    assert(rows(2) == base(2) * 2 && rows(3) == base(3) * 2, rows.toString)

    // The replaced files must be RECORDED dead (deletion deferred one
    // generation so planned readers still find them) — without this a
    // daily overwrite leaks each day's old files forever
    assert(Files.exists(dir.resolve(before(d2))), "deferred: old file still on disk")
    val metaDir = dir.resolve("_hadro")
    def deadNames(): Set[String] = {
      val s = Files.list(metaDir)
      try s.iterator().asScala
        .filter(_.getFileName.toString.matches("dead-\\d+\\.json"))
        .flatMap { f =>
          val txt = new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
          "\"([^\"]+)\"".r.findAllMatchIn(txt).map(_.group(1))
        }.toSet
      finally s.close()
    }
    val dead1 = deadNames()
    assert(dead1.contains(before(d2)) && dead1.contains(before(d3)),
      s"replaced files not recorded dead: $dead1")
    // A later replace cycle physically purges them
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql("""INSERT OVERWRITE pdyn.db.ev
        SELECT id, ts, v * 4 FROM pdyn_src WHERE id % 5 = 2""")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    assert(!Files.exists(dir.resolve(before(d2))),
      "second replace cycle should purge the first cycle's dead files")
    assert(Files.exists(dir.resolve(afterByTag(d3))),
      "still-live file must survive GC")
    spark.sql("DROP TABLE pdyn.db.ev")
  }

  test("dynamic overwrite conflicts with a concurrent append to a replaced partition") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo, SupportsDynamicOverwrite}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val w = setupCatalog("pdync")
    spark.sql("""CREATE TABLE pdync.db.ev (id BIGINT, ts TIMESTAMP, v DOUBLE)
      USING hadro PARTITIONED BY (days(ts))""")
    spark.range(0, 100)
      .select($"id",
        to_timestamp(lit("2026-03-01 00:00:00")).cast("timestamp")
          .plus(expr("make_interval(0, 0, 0, CAST(id % 2 AS INT), 0, 0, 0)")).as("ts"),
        ($"id" * 1.0).as("v"))
      .createOrReplaceTempView("pdync_src")
    spark.sql("INSERT INTO pdync.db.ev SELECT * FROM pdync_src")
    val dir = Paths.get(w, "db", "ev")

    // drive the DSv2 write seam by hand so a concurrent append can land
    // between PLAN (pin) and COMMIT — the window a single SQL statement
    // never exposes in a test
    val cat = spark.sessionState.catalogManager.catalog("pdync")
      .asInstanceOf[TableCatalog]
    val table = cat.loadTable(Identifier.of(Array("db"), "ev"))
    val tblSchema = spark.table("pdync.db.ev").schema
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(java.util.Collections.emptyMap())
      override def queryId(): String = "pdync-test"
      override def schema(): org.apache.spark.sql.types.StructType = tblSchema
    }
    val batch = table.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(info).asInstanceOf[SupportsDynamicOverwrite]
      .overwriteDynamicPartitions().build().toBatch // pin captured HERE

    // concurrent append into day 0 — a partition the overwrite replaces
    spark.sql("""INSERT INTO pdync.db.ev
      SELECT id + 1000, ts, v FROM pdync_src WHERE id % 2 = 0 AND id < 10""")

    // one writer task producing a day-0 replacement row
    val factory = batch.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    val writer = factory.createWriter(0, 0L)
    val day0Micros = java.time.LocalDate.of(2026, 3, 1).toEpochDay * 86400000000L
    writer.write(new GenericInternalRow(Array[Any](9999L, day0Micros, 42.0)))
    val msg = writer.commit()
    val e = intercept[IllegalStateException](batch.commit(Array(msg)))
    assert(e.getMessage.contains("dynamic partition overwrite"), e.getMessage)
    // nothing dropped: original 100 rows + the concurrent 5 survive
    assert(spark.table("pdync.db.ev").count() == 105L)
    spark.sql("DROP TABLE pdync.db.ev")
  }

  test("dynamic overwrite conflicts with a respec landing between plan and commit") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo, SupportsDynamicOverwrite}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val w = setupCatalog("pdynsp")
    spark.sql("""CREATE TABLE pdynsp.db.ev (id BIGINT, ts TIMESTAMP, v DOUBLE)
      USING hadro PARTITIONED BY (days(ts))""")
    spark.range(0, 48)
      .select($"id",
        to_timestamp(lit("2026-03-01 00:00:00")).cast("timestamp")
          .plus(expr("make_interval(0, 0, 0, 0, CAST(id % 24 AS INT), 0, 0)")).as("ts"),
        ($"id" * 1.0).as("v"))
      .createOrReplaceTempView("pdynsp_src")
    spark.sql("INSERT INTO pdynsp.db.ev SELECT * FROM pdynsp_src")
    val dir = Paths.get(w, "db", "ev")

    val cat = spark.sessionState.catalogManager.catalog("pdynsp")
      .asInstanceOf[TableCatalog]
    val table = cat.loadTable(Identifier.of(Array("db"), "ev"))
    val tblSchema = spark.table("pdynsp.db.ev").schema
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(java.util.Collections.emptyMap())
      override def queryId(): String = "pdynsp-test"
      override def schema(): org.apache.spark.sql.types.StructType = tblSchema
    }
    val batch = table.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(info).asInstanceOf[SupportsDynamicOverwrite]
      .overwriteDynamicPartitions().build().toBatch // plan-time pin + spec

    // a respec + an hour-routed concurrent insert land mid-flight: the new
    // segments carry hour tags the plan-time pin never saw, so only the
    // in-commit spec re-check can refuse to drop the day around them
    Collection(spark, dir.toString).setPartitionTransform("hours")
    spark.sql("""INSERT INTO pdynsp.db.ev
      SELECT id + 1000, ts, v FROM pdynsp_src WHERE id < 3""")

    val factory = batch.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    val writer = factory.createWriter(0, 0L)
    val day0Micros = java.time.LocalDate.of(2026, 3, 1).toEpochDay * 86400000000L
    writer.write(new GenericInternalRow(Array[Any](9999L, day0Micros, 42.0)))
    val msg = writer.commit()
    val e = intercept[IllegalStateException](batch.commit(Array(msg)))
    assert(e.getMessage.contains("dynamic partition overwrite"), e.getMessage)
    // nothing dropped: the original 48 rows + the concurrent 3 survive
    assert(spark.table("pdynsp.db.ev").count() == 51L)
    spark.sql("DROP TABLE pdynsp.db.ev")
  }

  test("partition-spec evolution: days->hours respec routes new writes finer") {
    val w = setupCatalog("pevo")
    spark.sql("""CREATE TABLE pevo.db.ev (id BIGINT, ts TIMESTAMP, v DOUBLE)
      USING hadro PARTITIONED BY (days(ts))""")
    // two days under the original spec
    spark.range(0, 48)
      .select($"id", to_timestamp(lit("2026-05-01 00:00:00")).cast("timestamp")
        .plus(expr("make_interval(0, 0, 0, CAST(id % 2 AS INT), CAST(id % 4 AS INT), 0, 0)")).as("ts"),
        ($"id" * 1.0).as("v"))
      .createOrReplaceTempView("pevo_old")
    spark.sql("INSERT INTO pevo.db.ev SELECT * FROM pevo_old")
    val dir = Paths.get(w, "db", "ev")
    val oldSegs = CollectionMeta.currentManifest(dir).segments
    assert(oldSegs.length == 2, oldSegs.map(_.partition).toString)

    val res = spark.sql("CALL pevo.system.set_partition_spec('db.ev', 'hours')")
      .collect().head
    assert(res.getString(0) == "hours" && res.getString(1) == "days", res.toString)

    // a third day, three distinct hours: routes ONE SEGMENT PER HOUR now
    spark.range(100, 130)
      .select($"id", to_timestamp(lit("2026-05-03 00:00:00")).cast("timestamp")
        .plus(expr("make_interval(0, 0, 0, 0, CAST(id % 3 AS INT), 0, 0)")).as("ts"),
        ($"id" * 1.0).as("v"))
      .createOrReplaceTempView("pevo_new")
    spark.sql("INSERT INTO pevo.db.ev SELECT * FROM pevo_new")
    val segs = CollectionMeta.currentManifest(dir).segments
    assert(segs.length == 5, segs.map(_.partition).toString) // 2 day + 3 hour
    val oldTags = oldSegs.flatMap(_.partition).toSet
    val newTags = segs.flatMap(_.partition).toSet -- oldTags
    assert(newTags.size == 3, s"expected 3 hour tags, got $newTags")
    // hour ordinals are ~24x day ordinals — proves the finer routing
    assert(newTags.forall(_.toLong > oldTags.map(_.toLong).max * 20), newTags.toString)

    // detail reports both specs
    val detail = spark.sql(
      "SELECT partition_transform, prior_partition_transforms FROM pevo.db.ev.detail")
      .collect().head
    assert(detail.getString(0) == "hours" && detail.getString(1) == "days", detail.toString)

    // queries across the respec boundary: range filter spanning old+new
    val n = spark.sql("""SELECT COUNT(*) AS n FROM pevo.db.ev
      WHERE ts >= TIMESTAMP '2026-05-02 00:00:00'""").collect().head.getLong(0)
    assert(n == 24L + 30L, n.toString) // day 2 (old spec) + day 3 (new spec)

    // an hours-granular scan prunes to one hour segment (new spec) while
    // old day segments prune by the same stats rule
    val oneHour = spark.sql("""SELECT COUNT(*) AS n FROM pevo.db.ev
      WHERE ts >= TIMESTAMP '2026-05-03 01:00:00' AND ts < TIMESTAMP '2026-05-03 02:00:00'""")
    assert(oneHour.collect().head.getLong(0) == 10L)
    val m = scanNode(oneHour).metrics
    assert(m("hadroSegmentsRead").value == 1L && m("hadroSegmentsPruned").value == 4L,
      s"read=${m("hadroSegmentsRead").value} pruned=${m("hadroSegmentsPruned").value}")

    // retention across the boundary: cutoff = hour ordinal of day-3 00:00
    // must drop BOTH old day-tagged segments (stats-bound rule, not tags)
    val hourCutoff = java.time.LocalDate.of(2026, 5, 3).toEpochDay * 24
    val c = Collection(spark, dir.toString)
    assert(c.dropPartitions(hourCutoff.toString) == 2)
    assert(spark.table("pevo.db.ev").count() == 30L)

    // forward-only: coarsening and identity respecs are rejected
    val e1 = intercept[Exception](c.setPartitionTransform("days"))
    assert(e1.getMessage.contains("forward-only"), e1.getMessage)
    spark.sql("""CREATE TABLE pevo.db.ident (id BIGINT, region STRING)
      USING hadro PARTITIONED BY (region)""")
    val e2 = intercept[Exception](
      Collection(spark, Paths.get(w, "db", "ident").toString)
        .setPartitionTransform("hours"))
    assert(e2.getMessage.contains("identity"), e2.getMessage)
    spark.sql("DROP TABLE pevo.db.ev")
    spark.sql("DROP TABLE pevo.db.ident")
  }

  test("schema evolution preserves the partition declaration") {
    val w = setupCatalog("pevol")
    spark.sql("""CREATE TABLE pevol.db.t (id BIGINT, ts TIMESTAMP)
      USING hadro PARTITIONED BY (days(ts))""")
    val dir = Paths.get(w, "db", "t")
    val c = Collection(spark, dir.toString)
    c.addColumn("note", org.apache.spark.sql.types.StringType)
    val meta = CollectionMeta.readSchema(dir).get
    assert(meta.partitionBy.contains("ts") && meta.partitionTransform.contains("days"),
      s"evolution dropped the partition spec: $meta")
    val e = intercept[Exception](c.dropColumn("ts"))
    assert(e.getMessage.contains("partition column"), e.getMessage)
    spark.sql("DROP TABLE pevol.db.t")
  }

  test("SHOW PARTITIONS lists routed tags; DROP PARTITION unlinks exactly one") {
    val w = setupCatalog("pmgmt")
    spark.sql("""CREATE TABLE pmgmt.db.ev (id BIGINT, ts TIMESTAMP, v DOUBLE)
      USING hadro PARTITIONED BY (days(ts))""")
    spark.sql("""INSERT INTO pmgmt.db.ev
      SELECT id, timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,CAST(id % 5 AS INT),0,0,0), id * 0.5
      FROM range(0, 500)""")
    val days = spark.sql("SHOW PARTITIONS pmgmt.db.ev")
      .collect().map(_.getString(0)).toSeq
    // 2024-03-01..05 = epoch days 19783..19787
    assert(days == (19783 to 19787).map(d => s"ts_days=$d"),
      days.mkString(","))
    // scoped listing
    assert(spark.sql("SHOW PARTITIONS pmgmt.db.ev PARTITION (ts_days = 19785)")
      .count() == 1)

    val dir = Paths.get(w, "db", "ev")
    val before = CollectionMeta.currentManifest(dir)
    spark.sql("ALTER TABLE pmgmt.db.ev DROP PARTITION (ts_days = 19785)")
    val after = CollectionMeta.currentManifest(dir)
    assert(after.segments.size == before.segments.size - 1)
    assert(!after.segments.exists(_.partition.contains("19785")))
    // rows of the dropped day gone, the rest intact
    assert(spark.table("pmgmt.db.ev").count() == 400)
    assert(spark.table("pmgmt.db.ev")
      .filter($"id" % 5 === 2).count() == 0)
    // SHOW PARTITIONS reflects the drop
    assert(spark.sql("SHOW PARTITIONS pmgmt.db.ev").count() == 4)
    // dropping a missing partition: IF EXISTS passes, bare form errors
    spark.sql("ALTER TABLE pmgmt.db.ev DROP IF EXISTS PARTITION (ts_days = 19785)")
    val e = intercept[Exception](
      spark.sql("ALTER TABLE pmgmt.db.ev DROP PARTITION (ts_days = 19785)"))
    assert(e.getMessage.toLowerCase.contains("partition"), e.getMessage)
    spark.sql("DROP TABLE pmgmt.db.ev")
  }

  test("identity partition management: typed identifiers, purge reclaims now") {
    val w = setupCatalog("pmgmt2")
    spark.sql("""CREATE TABLE pmgmt2.db.docs (id BIGINT, region STRING)
      USING hadro PARTITIONED BY (region)""")
    spark.sql("""INSERT INTO pmgmt2.db.docs
      SELECT id, CASE WHEN id % 3 = 0 THEN 'emea' WHEN id % 3 = 1 THEN 'apac'
        ELSE 'amer' END FROM range(0, 300)""")
    val parts = spark.sql("SHOW PARTITIONS pmgmt2.db.docs")
      .collect().map(_.getString(0)).toSet
    assert(parts == Set("region=amer", "region=apac", "region=emea"), parts)

    val dir = Paths.get(w, "db", "docs")
    val apacFiles = CollectionMeta.currentManifest(dir).segments
      .filter(_.partition.contains("apac")).map(_.file)
    assert(apacFiles.nonEmpty)
    // PURGE skips the deferred-GC grace generation: files gone NOW
    spark.sql("ALTER TABLE pmgmt2.db.docs DROP PARTITION (region = 'apac') PURGE")
    assert(apacFiles.forall(f => !Files.exists(Paths.get(w, "db", "docs", f))),
      "purged partition files must be physically reclaimed")
    assert(spark.table("pmgmt2.db.docs").count() == 200)
    // TRUNCATE ... PARTITION is the same unlink (partitions are implicit)
    spark.sql("TRUNCATE TABLE pmgmt2.db.docs PARTITION (region = 'emea')")
    assert(spark.table("pmgmt2.db.docs").count() == 100)
    assert(spark.sql("SHOW PARTITIONS pmgmt2.db.docs").count() == 1)
    // ADD PARTITION is meaningless on implicit partitions and says so
    val e = intercept[Exception](
      spark.sql("ALTER TABLE pmgmt2.db.docs ADD PARTITION (region = 'x')"))
    assert(e.getMessage.contains("implicit"), e.getMessage)
    spark.sql("DROP TABLE pmgmt2.db.docs")
  }

  test("partition management guards: unpartitioned and mutated tables refuse") {
    val w = setupCatalog("pmgmt3")
    spark.sql("CREATE TABLE pmgmt3.db.plain (id BIGINT) USING hadro")
    spark.sql("INSERT INTO pmgmt3.db.plain SELECT id FROM range(10)")
    val e1 = intercept[Exception](
      spark.sql("SHOW PARTITIONS pmgmt3.db.plain").collect())
    assert(e1.getMessage.contains("partition") ||
      e1.getMessage.contains("PARTITION"), e1.getMessage)

    // keyed + mutated: dropping a tag could lose a key's newest version
    spark.sql("""CREATE TABLE pmgmt3.db.kv (id BIGINT, region STRING)
      USING hadro PARTITIONED BY (region) TBLPROPERTIES ('key' = 'id')""")
    spark.sql("INSERT INTO pmgmt3.db.kv VALUES (1, 'a'), (2, 'b')")
    val dir = Paths.get(w, "db", "kv")
    Collection(spark, dir.toString)
      .set(Seq((1L, "b")).toDF("id", "region")) // flips mutated
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE pmgmt3.db.kv DROP PARTITION (region = 'a')"))
    assert(e2.getMessage.contains("pure-append"), e2.getMessage)
    spark.sql("DROP TABLE pmgmt3.db.plain")
    spark.sql("DROP TABLE pmgmt3.db.kv")
  }
}
