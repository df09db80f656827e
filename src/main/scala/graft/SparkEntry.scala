package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All query batteries live under graft.queries as [[QueryDef]] lists; this
  * object just aggregates them into the driver's three maps.
  */
object SparkEntry {

  /** Session settings every entry point needs. Applied idempotently (runtime
    * confs only) — the driver may hand us an already-built session. */
  def configure(spark: SparkSession): SparkSession = {
    // Earlier testdata generations wrote events.ts as TIMESTAMP(NANOS),
    // which Spark refuses unless read as epoch-nano bigint; the conf is
    // kept so either generation loads ON THE BATCH PATH (QueryDef.table
    // normalizes ts to epoch-nano BIGINT whichever physical type the file
    // carries). The streaming raw-file queries (st01/st02/st07) declare a
    // fixed read schema and support only the current TIMESTAMP(MICROS)
    // generation — see OpsQueries.rawEventsSchema.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  /** The local session the mains (Bench, Verify, Smoke, Plans, Profile,
    * ScaleEvidence) build: `local[SPARK_GRAFT_CPUS]` (default 32) with as
    * many shuffle partitions, UTC, AQE and no UI. A main adds its own
    * confs to the builder and sets its own log level. */
  def localBuilder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
  }

  /** Drop the per-query catalog registrations a lifecycle query leaves in
    * session conf. Each storage query registers a uniquely-named catalog
    * (`spark.sql.catalog.graft_h*` + `.warehouse`); the names never
    * collide, but ~100 of them accumulate over a Bench/Verify JVM. ONE
    * enforcement point here (called by the harnesses after each query's
    * frame is materialized) beats a `finally unset` at every set site —
    * a sweep cannot drift when the next query is added. Safe mid-run:
    * CatalogManager caches loaded catalog instances by name, and every
    * query (re)sets its own confs before first use. */
  private[graft] def sweepCatalogConfs(spark: SparkSession): Unit =
    spark.conf.getAll.keys.filter(_.startsWith("spark.sql.catalog.graft_"))
      .foreach(spark.conf.unset)

  private def batteries: Seq[QueryDef] =
    RelationalQueries.defs ++ StorageQueries.defs ++ OpsQueries.defs ++
      AdvancedQueries.defs ++ SurfaceQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_join_star_broadcast")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    batteries.map(q => q.name -> { (s: SparkSession, dir: String) =>
      q.fn(configure(s), dir)
    }).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    batteries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
