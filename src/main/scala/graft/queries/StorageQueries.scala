package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Collection

/** The hadro storage-format battery (SURVEY.md §2.1 + §2.2): every query
  * ingests driver parquet into a hadro collection, exercises a storage
  * operator through the public `format("hadro")` / [[Collection]] surface,
  * and returns a result the DuckDB oracle reproduces from the original
  * parquet — proving the round-trip byte-exact.
  *
  * Collections live under /tmp, one per (query, scale factor), rebuilt on
  * each run so Verify and Bench are deterministic and isolated.
  */
object StorageQueries {
  import QueryDef.table

  private def colPath(dir: String, name: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    s"/tmp/graft_collections/$tag/$name"
  }

  val defs: Seq[QueryDef] = Seq(
    // ---------------------------------------------------------------- h01
    // Open/create + append + sequential scan (SURVEY §2.1 #1-#3): full
    // round-trip of a table through the hadro log, multi-segment.
    QueryDef(
      "h01_roundtrip_scan",
      (s, dir) => {
        val c = Collection.create(s, colPath(dir, "h01"), table(s, dir, "nation"), numSegments = 4)
        c.scan().orderBy("n_nationkey")
      },
      Some("SELECT * FROM nation ORDER BY n_nationkey")),

    // ---------------------------------------------------------------- h02
    // Filter pushdown (§2.1 #5): predicate reaches the scan (manifest
    // min/max segment skipping + Catalyst residual filter).
    QueryDef(
      "h02_filter_pushdown",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "orders")
          .repartitionByRange(8, $"o_orderkey") // clustered → skippable ranges
        val c = Collection.create(s, colPath(dir, "h02"), src)
        c.scan().filter($"o_orderkey" < 1000 && $"o_totalprice" > 100000.0)
          .select($"o_orderkey", $"o_totalprice")
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderkey < 1000 AND o_totalprice > 100000.0
        ORDER BY o_orderkey""")),

    // ---------------------------------------------------------------- h03
    // Projection pushdown (§2.1 #4): only 2 of 6 part columns are decoded
    // (the codec skips the rest byte-exactly).
    QueryDef(
      "h03_projection_pushdown",
      (s, dir) => {
        import s.implicits._
        val c = Collection.create(s, colPath(dir, "h03"), table(s, dir, "part"), numSegments = 4)
        c.scan().select($"p_partkey", $"p_brand").orderBy($"p_partkey")
      },
      Some("SELECT p_partkey, p_brand FROM part ORDER BY p_partkey")),

    // ---------------------------------------------------------------- h04
    // Keyed upsert / last-write-wins (§2.2 #11): overwrite the name of
    // every even-keyed supplier, resolved view must show latest versions.
    QueryDef(
      "h04_keyed_upsert_lww",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "supplier")
        val c = Collection.create(s, colPath(dir, "h04"), src,
          key = Some("s_suppkey"), numSegments = 4)
        val updates = src.filter($"s_suppkey" % 2 === 0)
          .withColumn("s_name", concat(lit("UPDATED_"), $"s_name"))
        c.set(updates)
        c.toDF().select($"s_suppkey", $"s_name", $"s_acctbal").orderBy($"s_suppkey")
      },
      Some("""SELECT s_suppkey,
          CASE WHEN s_suppkey % 2 = 0 THEN 'UPDATED_' || s_name ELSE s_name END AS s_name,
          s_acctbal
        FROM supplier ORDER BY s_suppkey""")),

    // ---------------------------------------------------------------- h05
    // Delete via tombstones (§2.1 #6, §2.2 #13): remove every 5th customer,
    // resolved view excludes them.
    QueryDef(
      "h05_delete_tombstone",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "customer")
        val c = Collection.create(s, colPath(dir, "h05"), src,
          key = Some("c_custkey"), numSegments = 4)
        c.delete(src.filter($"c_custkey" % 5 === 0).select($"c_custkey"))
        c.toDF().select($"c_custkey", $"c_name", $"c_acctbal").orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
        WHERE c_custkey % 5 <> 0 ORDER BY c_custkey""")),

    // ---------------------------------------------------------------- h06
    // Point lookup by key (§2.2 #10): get() over a keyed collection; the
    // key→offset index plans one single-record read, done on the driver.
    QueryDef(
      "h06_point_get",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "customer").repartitionByRange(8, $"c_custkey")
        val c = Collection.create(s, colPath(dir, "h06"), src, key = Some("c_custkey"))
        c.get(42L).select($"c_custkey", $"c_name", $"c_nationkey")
      },
      Some("SELECT c_custkey, c_name, c_nationkey FROM customer WHERE c_custkey = 42")),

    // ---------------------------------------------------------------- h07
    // Compaction (§2.2 #23): delete + upsert, compact, then RAW scan — the
    // rewritten log must contain exactly the live resolved rows.
    QueryDef(
      "h07_compact",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "nation")
        val c = Collection.create(s, colPath(dir, "h07"), src, key = Some("n_nationkey"))
        c.delete(src.filter($"n_nationkey" >= 20).select($"n_nationkey"))
        c.set(src.filter($"n_nationkey" < 5).withColumn("n_name", upper($"n_name")))
        c.compact()
        c.scan().orderBy($"n_nationkey") // raw scan: compaction left only live rows
      },
      Some("""SELECT n_nationkey, CASE WHEN n_nationkey < 5 THEN UPPER(n_name) ELSE n_name END AS n_name,
          n_regionkey
        FROM nation WHERE n_nationkey < 20 ORDER BY n_nationkey""")),

    // ---------------------------------------------------------------- h08
    // Key enumeration + cardinality (§2.2 #15/#16) and where() (#17).
    QueryDef(
      "h08_ids_where",
      (s, dir) => {
        import s.implicits._
        val c = Collection.create(s, colPath(dir, "h08"), table(s, dir, "part"),
          key = Some("p_partkey"), numSegments = 4)
        c.where($"p_size" > 25).select($"p_partkey", $"p_size").orderBy($"p_partkey")
      },
      Some("SELECT p_partkey, p_size FROM part WHERE p_size > 25 ORDER BY p_partkey")),

    // ---------------------------------------------------------------- h09
    // Durability mode (§2.1 #7): AGGRESSIVE fsync-per-record write path
    // produces the identical log content.
    QueryDef(
      "h09_consistency_aggressive",
      (s, dir) => {
        val c = Collection.create(s, colPath(dir, "h09"), table(s, dir, "region"),
          consistency = "aggressive")
        c.scan().orderBy("r_regionkey")
      },
      Some("SELECT * FROM region ORDER BY r_regionkey")),

    // ---------------------------------------------------------------- h10
    // Codec stress: nested ArrayType(FloatType) embeddings + bigint-nanos
    // events round-trip through the log byte-exactly.
    QueryDef(
      "h10_array_roundtrip",
      (s, dir) => {
        import s.implicits._
        val c = Collection.create(s, colPath(dir, "h10"), table(s, dir, "embeddings"),
          numSegments = 4)
        c.scan()
          .select($"vec_id", size($"embedding").as("dim"),
            element_at($"embedding", 1).cast(DoubleType).as("first_val"), $"label")
          .orderBy($"vec_id")
      },
      Some("""SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
          CAST(embedding[1] AS DOUBLE) AS first_val, label
        FROM embeddings ORDER BY vec_id""")),

    // ---------------------------------------------------------------- h11
    // Aggregation over the hadro source: the full relational layer composes
    // on our DSv2 scan exactly as over parquet (SURVEY §2.3's core bet).
    QueryDef(
      "h11_agg_over_hadro",
      (s, dir) => {
        import s.implicits._
        // read-only after build: ingest once per JVM (Fixtures discipline)
        Fixtures.buildOnce(dir, "h11") {
          Collection.create(s, colPath(dir, "h11"), table(s, dir, "lineitem"),
            numSegments = 8)
        }
        val c = Collection(s, colPath(dir, "h11"))
        c.scan()
          .groupBy($"l_returnflag")
          .agg(
            sum($"l_quantity".cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
            count(lit(1)).as("n"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---------------------------------------------------------------- h12
    // Multi-get (§2.2 #10 `hadro[id, id...]`): IN-list point lookups over a
    // keyed collection — pushed as an In filter, pruned via min/max stats
    // AND per-segment key blooms.
    QueryDef(
      "h12_multiget",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "part")
        val c = Collection.create(s, colPath(dir, "h12"), src,
          key = Some("p_partkey"), numSegments = 8)
        c.multiGet(3L, 77L, 500L, 999L)
          .select($"p_partkey", $"p_name", $"p_retailprice")
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey, p_name, p_retailprice FROM part
        WHERE p_partkey IN (3, 77, 500, 999) ORDER BY p_partkey""")),

    // ---------------------------------------------------------------- h13
    // Time travel: read the snapshot BEFORE a later append — segment
    // immutability + versioned manifests make any retained version exact.
    QueryDef(
      "h13_time_travel",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "region")
        val c = Collection.create(s, colPath(dir, "h13"), src)
        val v1 = c.version
        c.append(src.withColumn("r_name", upper($"r_name"))) // v2 noise
        c.scanVersion(v1).orderBy($"r_regionkey")
      },
      Some("SELECT * FROM region ORDER BY r_regionkey")),

    // ---------------------------------------------------------------- h14
    // add() returns generated ids (§2.2 #12, INTERFACE.md:13 — fixing the
    // reference's missing return, engine.py:122-137). The returned frame's
    // ids are joined back against the PERSISTED collection: every result row
    // proves both "returned a 36-char UUID" and "that exact id was written".
    QueryDef(
      "h14_add_returns_id",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "nation")
        val seed = src.filter($"n_nationkey" === 0).withColumn("_id", lit("seed-row"))
        val c = Collection.create(s, colPath(dir, "h14"), seed, key = Some("_id"))
        val added = c.add(src.filter($"n_nationkey" > 0))
        val persistedIds = Collection(s, colPath(dir, "h14")).ids()
        added.join(persistedIds, "_id") // inner: only ids that persisted survive
          .select($"n_nationkey", $"n_name", length($"_id").as("id_len"))
          .orderBy($"n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, 36 AS id_len FROM nation
        WHERE n_nationkey > 0 ORDER BY n_nationkey""")),

    // ---------------------------------------------------------------- h15
    // Containment probe (§2.2 #14): live key, tombstoned key, never-present
    // key — `key in collection` parity (INTERFACE.md:19).
    QueryDef(
      "h15_contains",
      (s, dir) => {
        import s.implicits._
        val c = Collection.create(s, colPath(dir, "h15"), table(s, dir, "nation"),
          key = Some("n_nationkey"))
        c.delete(7)
        Seq((c.contains(3), c.contains(7), c.contains(9999)))
          .toDF("has_live", "has_deleted", "has_missing")
      },
      Some("""SELECT (SELECT COUNT(*) FROM nation WHERE n_nationkey = 3) > 0 AS has_live,
          FALSE AS has_deleted,
          (SELECT COUNT(*) FROM nation WHERE n_nationkey = 9999) > 0 AS has_missing""")),

    // ---------------------------------------------------------------- h16
    // Key enumeration ids() (§2.2 #15) over a mutated collection: tombstoned
    // keys must not appear (INTERFACE.md:22).
    QueryDef(
      "h16_key_enumeration",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "supplier")
        val c = Collection.create(s, colPath(dir, "h16"), src,
          key = Some("s_suppkey"), numSegments = 4)
        c.delete(src.filter($"s_suppkey" % 2 === 0).select($"s_suppkey"))
        c.ids().orderBy($"s_suppkey")
      },
      Some("SELECT s_suppkey FROM supplier WHERE s_suppkey % 2 <> 0 ORDER BY s_suppkey")),

    // ---------------------------------------------------------------- h17
    // Cardinality count() (§2.2 #16): the manifest-metadata fast path on an
    // unmutated collection (zero data read) AND the resolved path after
    // tombstones, in one row.
    QueryDef(
      "h17_count_cardinality",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "customer")
        val c = Collection.create(s, colPath(dir, "h17"), src,
          key = Some("c_custkey"), numSegments = 4)
        val fast = c.count() // pure-append: summed from manifest row counts
        c.delete(src.filter($"c_custkey" <= 10).select($"c_custkey"))
        val resolved = c.count() // mutated: exact resolved count
        Seq((fast, resolved)).toDF("n_fast", "n_resolved")
      },
      Some("""SELECT (SELECT COUNT(*) FROM customer) AS n_fast,
          (SELECT COUNT(*) FROM customer WHERE c_custkey > 10) AS n_resolved""")),

    // ---------------------------------------------------------------- h18
    // Schema validation on write (§2.2 #18, reference schema.py:65-79
    // intent): a wrong-typed field and an unknown field are both rejected,
    // and the collection is byte-identical afterwards — the result carries
    // the rejection flags alongside the untouched rows.
    QueryDef(
      "h18_schema_validation",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "region")
        val path = colPath(dir, "h18")
        val c = Collection.create(s, path, src, key = Some("r_regionkey"))
        def rejected(df: org.apache.spark.sql.DataFrame): Boolean =
          try { df.write.format("hadro").mode("append").save(path); false }
          catch { case _: Exception => true }
        val wrongType = rejected(Seq((9.5, "X")).toDF("r_regionkey", "r_name"))
        val unknownField = rejected(
          Seq((9, "X", "boom")).toDF("r_regionkey", "r_name", "mystery"))
        c.toDF()
          .select($"r_regionkey", $"r_name",
            lit(wrongType).as("rejected_wrong_type"),
            lit(unknownField).as("rejected_unknown_field"))
          .orderBy($"r_regionkey")
      },
      Some("""SELECT r_regionkey, r_name, TRUE AS rejected_wrong_type,
          TRUE AS rejected_unknown_field
        FROM region ORDER BY r_regionkey""")),

    // ---------------------------------------------------------------- h19
    // Batch transaction (§2.2 #20, INTERFACE.md:40-43): two appends + an
    // upsert staged in one body commit as EXACTLY one manifest version
    // (`commits` column), and the resolved view shows all of it.
    QueryDef(
      "h19_transaction",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "region")
        val c = Collection.create(s, colPath(dir, "h19"), src, key = Some("r_regionkey"))
        val v0 = c.version
        c.transaction { b =>
          b.add(src.select(($"r_regionkey" + 100).as("r_regionkey"), $"r_name"))
          b.set(src.filter($"r_regionkey" === 0).withColumn("r_name", upper($"r_name")))
        }
        val commits = c.version - v0 // all-or-nothing: must be exactly 1
        c.toDF()
          .select($"r_regionkey", $"r_name", lit(commits).as("commits"))
          .orderBy($"r_regionkey")
      },
      Some("""SELECT r_regionkey,
          CASE WHEN r_regionkey = 0 THEN UPPER(r_name) ELSE r_name END AS r_name,
          CAST(1 AS BIGINT) AS commits
        FROM region
        UNION ALL
        SELECT r_regionkey + 100, r_name, CAST(1 AS BIGINT) FROM region
        ORDER BY r_regionkey""")),

    // ---------------------------------------------------------------- h20
    // Named composite index (§2.2 #19, INTERFACE.md:35): indexes.add(name,
    // [fields]) builds per-segment blooms over the field tuple; the
    // two-equality lookup probes them at planning and skips segments.
    QueryDef(
      "h20_composite_index",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "part")
        val c = Collection.create(s, colPath(dir, "h20"), src, numSegments = 8)
        c.indexes.add("brand_type", Seq("p_brand", "p_type"))
        val probe = src.orderBy($"p_partkey").select($"p_brand", $"p_type").head()
        c.where($"p_brand" === probe.getString(0) && $"p_type" === probe.getString(1))
          .select($"p_partkey", $"p_brand", $"p_type")
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey, p_brand, p_type FROM part
        WHERE p_brand = (SELECT p_brand FROM part ORDER BY p_partkey LIMIT 1)
          AND p_type = (SELECT p_type FROM part ORDER BY p_partkey LIMIT 1)
        ORDER BY p_partkey""")),

    // ---------------------------------------------------------------- h21
    // SQL-name surface via the DSv2 TableCatalog: CREATE TABLE + INSERT
    // INTO SELECT + aggregate, all through catalog identifiers — the same
    // HadroTable the path API uses, so pushdown/stats carry over.
    QueryDef(
      "h21_sql_catalog",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/$tag"
        s.conf.set("spark.sql.catalog.graft_h21", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h21.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h21.db")
        s.sql("DROP TABLE IF EXISTS graft_h21.db.suppliers")
        s.sql("""CREATE TABLE graft_h21.db.suppliers
          (s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE)
          USING hadro""")
        QueryDef.table(s, dir, "supplier").createOrReplaceTempView("h21_src")
        s.sql("INSERT INTO graft_h21.db.suppliers SELECT * FROM h21_src")
        s.sql("""SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
          FROM graft_h21.db.suppliers
          GROUP BY s_nationkey ORDER BY s_nationkey""")
      },
      Some("""SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // ---------------------------------------------------------------- h22
    // Additive schema evolution: ADD COLUMN (nullable) widens the schema
    // WITHOUT rewriting data — segments record their write-time width in
    // the manifest; readers null-fill the new column for pre-evolution
    // rows. The query reads a collection whose segments straddle the
    // evolution: old rows must surface NULL, post-evolution appends their
    // written values.
    QueryDef(
      "h22_schema_evolution",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "nation")
        val c = Collection.create(s, colPath(dir, "h22"), src, numSegments = 3)
        c.addColumn("category", StringType)
        c.append(src
          .withColumn("n_nationkey", $"n_nationkey" + 100)
          .withColumn("category", concat(lit("cat_"), $"n_regionkey".cast("string"))))
        c.scan().select($"n_nationkey", $"n_name", $"category")
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, CAST(NULL AS VARCHAR) AS category
          FROM nation
        UNION ALL
        SELECT n_nationkey + 100, n_name,
          'cat_' || CAST(n_regionkey AS VARCHAR) AS category
          FROM nation
        ORDER BY n_nationkey""")),

    // ---------------------------------------------------------------- h23
    // CDC merge: one changeset frame carries updates (rename every 10th
    // customer) AND deletes (every 7th) and commits ATOMICALLY as one
    // manifest version — per-record tombstone flags in the write path, the
    // MERGE INTO / apply-changes shape. The resolved view must show renames
    // minus deletions; delete wins where a key matches both rules.
    QueryDef(
      "h23_cdc_merge",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "customer")
        val c = Collection.create(s, colPath(dir, "h23"), src,
          key = Some("c_custkey"), numSegments = 4)
        val changes = src
          .filter($"c_custkey" % 10 === 0 || $"c_custkey" % 7 === 0)
          .withColumn("c_name", concat(lit("MERGED_"), $"c_name"))
        c.merge(changes, $"c_custkey" % 7 === 0)
        c.toDF().select($"c_custkey", $"c_name").orderBy("c_custkey")
      },
      Some("""SELECT c_custkey,
          CASE WHEN c_custkey % 10 = 0 THEN 'MERGED_' || c_name ELSE c_name END AS c_name
        FROM customer
        WHERE c_custkey % 7 <> 0
        ORDER BY c_custkey""")),

    // ---------------------------------------------------------------- h24
    // Z-order layout: cluster orders on the Morton-interleaved key of
    // (o_custkey, o_totalprice), then run a 2-D box query. Each segment
    // covers a small hyper-rectangle, so manifest min/max stats prune
    // segments for predicates on EITHER column — a single-column sort
    // would only ever prune on its leading column. Pruning itself is
    // asserted in LayoutSpec; here the oracle proves the rewrite is
    // lossless and the box query exact.
    QueryDef(
      "h24_zorder_box_query",
      (s, dir) => {
        import s.implicits._
        // read-only after the Z-order rewrite: build + cluster once per JVM
        Fixtures.buildOnce(dir, "h24") {
          val c0 = Collection.create(s, colPath(dir, "h24"),
            table(s, dir, "orders"), numSegments = 4)
          c0.cluster(Seq("o_custkey", "o_totalprice"), numSegments = 16)
        }
        val c = Collection(s, colPath(dir, "h24"))
        c.scan()
          .filter($"o_custkey" < 200 && ($"o_totalprice" between (50000.0, 150000.0)))
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_custkey < 200 AND o_totalprice BETWEEN 50000.0 AND 150000.0
        ORDER BY o_orderkey""")),

    // ---------------------------------------------------------------- h25
    // Version restore: mutate a collection (upserts + deletes), then
    // rewind to the pre-mutation snapshot — metadata-only, no data
    // rewritten. The restored read must equal the original table exactly.
    QueryDef(
      "h25_version_restore",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "supplier")
        val c = Collection.create(s, colPath(dir, "h25"), src,
          key = Some("s_suppkey"), numSegments = 4)
        val v0 = c.version
        c.set(src.limit(20).withColumn("s_name", lit("CLOBBERED")))
        c.delete(src.filter($"s_suppkey" % 5 === 0).select($"s_suppkey"))
        c.restoreVersion(v0)
        c.toDF().select($"s_suppkey", $"s_name").orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, s_name FROM supplier ORDER BY s_suppkey""")),

    // ---------------------------------------------------------------- h26
    // Writer-side segment rotation: a single-task ingest capped at 64 KB
    // per segment must round-trip byte-exactly — one skewed task, many
    // bounded files, unchanged content (segment-count bound asserted in
    // SplitSpec).
    QueryDef(
      "h26_segment_rotation",
      (s, dir) => {
        import s.implicits._
        val path = colPath(dir, "h26")
        Fixtures.buildOnce(dir, "h26") {
          val src = table(s, dir, "customer")
          val p = java.nio.file.Paths.get(path)
          if (java.nio.file.Files.exists(p)) {
            import scala.jdk.CollectionConverters._
            val walk = java.nio.file.Files.walk(p)
            try walk.iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.deleteIfExists)
            finally walk.close()
          }
          src.coalesce(1).write.format("hadro").mode("append")
            .option("hadro.maxSegmentBytes", (64 * 1024).toString)
            .save(path)
        }
        s.read.format("hadro").load(path)
          .select($"c_custkey", $"c_name", $"c_acctbal")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey""")),

    // ---------------------------------------------------------------- h27
    // Aggregate pushdown (SupportsPushDownAggregates): global COUNT/MIN/MAX
    // over a never-mutated collection are answered from manifest statistics
    // as a LocalTableScan — no data file is opened, no executor task runs
    // (plan asserted in AggPushdownSpec). At 100 TB this is a metadata read
    // vs a cluster-wide scan.
    QueryDef(
      "h27_agg_pushdown",
      (s, dir) => {
        import s.implicits._
        Fixtures.buildOnce(dir, "h27") {
          Collection.create(s, colPath(dir, "h27"), table(s, dir, "orders"),
            numSegments = 4)
        }
        val c = Collection(s, colPath(dir, "h27"))
        c.scan().agg(
          count(lit(1)).as("n_rows"),
          count($"o_orderpriority").as("n_priority"),
          min($"o_orderkey").as("min_key"),
          max($"o_orderkey").as("max_key"),
          min($"o_orderstatus").as("min_status"),
          max($"o_orderdate").as("max_date"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(COUNT(o_orderpriority) AS BIGINT) AS n_priority,
          MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
          MIN(o_orderstatus) AS min_status, MAX(o_orderdate) AS max_date
        FROM orders""")),

    // ---------------------------------------------------------------- h28
    // DSv2 runtime filtering (SupportsRuntimeV2Filtering): a broadcast
    // dim side delivers its join keys to the hadro fact scan at RUNTIME
    // (dynamic pruning), and the scan re-prunes segments through the same
    // stats/bloom machinery as static pushdown (partition-count drop
    // asserted in RuntimeV2FilterSpec). Fact is range-clustered so the
    // runtime IN actually skips segments.
    QueryDef(
      "h28_runtime_prune_join",
      (s, dir) => {
        import s.implicits._
        Fixtures.buildOnce(dir, "h28") {
          Collection.create(s, colPath(dir, "h28"),
            table(s, dir, "lineitem")
              .select($"l_orderkey", $"l_quantity", $"l_extendedprice")
              .repartitionByRange(8, $"l_orderkey"))
        }
        val c = Collection(s, colPath(dir, "h28"))
        val dim = table(s, dir, "orders")
          .filter($"o_custkey" === 370L).select($"o_orderkey")
        c.scan().join(dim, $"l_orderkey" === $"o_orderkey")
          .groupBy($"l_orderkey")
          .agg(count(lit(1)).as("n"),
            sum($"l_quantity".cast(DecimalType(18, 2))).cast("double").as("qty"))
          .orderBy($"l_orderkey")
      },
      Some("""SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_custkey = 370)
        GROUP BY l_orderkey ORDER BY l_orderkey""")),

    // ---------------------------------------------------------------- h29
    // Version diff — "what changed between v1 and v2" on retained
    // manifests (the table_changes/DESCRIBE-diff read every lakehouse
    // audit runs). Computed as resolved-view exceptAll over two pinned
    // time-travel scans: metadata picks the segment sets, the diff itself
    // is a shuffle-on-key anti semantics Spark plans natively. Rows added
    // by the upsert batch (new keys AND new versions of old keys) come
    // back tagged '+'; rows they shadowed come back '-'.
    QueryDef(
      "h29_version_diff",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "nation")
        val c = Collection.create(s, colPath(dir, "h29"), src,
          key = Some("n_nationkey"))
        val v1 = c.version
        // upsert: 5 changed rows + 3 brand-new keys
        c.set(src.filter($"n_nationkey" < 5)
          .withColumn("n_name", concat($"n_name", lit("_v2"))))
        c.append(src.filter($"n_nationkey" < 3)
          .withColumn("n_nationkey", $"n_nationkey" + 100))
        val v2 = c.version
        val before = c.resolvedAsOf(v1)
        val after = c.resolvedAsOf(v2)
        after.exceptAll(before).withColumn("change", lit("+"))
          .unionByName(before.exceptAll(after).withColumn("change", lit("-")))
          .select($"change", $"n_nationkey", $"n_name")
          .orderBy($"n_nationkey", $"change")
      },
      Some("""SELECT '+' AS change, n_nationkey, n_name || '_v2' AS n_name
          FROM nation WHERE n_nationkey < 5
        UNION ALL
        SELECT '+', n_nationkey + 100, n_name FROM nation WHERE n_nationkey < 3
        UNION ALL
        SELECT '-', n_nationkey, n_name FROM nation WHERE n_nationkey < 5
        ORDER BY n_nationkey, change""")),

    // ---------------------------------------------------------------- h30
    // Limit pushdown: LIMIT n over an unfiltered scan plans only the
    // segment PREFIX covering n live rows (PushdownSpec asserts the plan);
    // readers are pull-based so rows past the limit are never decoded.
    // Deterministic here: nation ingests as ONE segment in parquet order,
    // so the first 5 log records are keys 0..4.
    QueryDef(
      "h30_limit_pushdown",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "nation")
        val c = Collection.create(s, colPath(dir, "h30"), src)
        c.scan().limit(5).select($"n_nationkey", $"n_name")
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name FROM nation
        WHERE n_nationkey < 5 ORDER BY n_nationkey""")),

    // ---------------------------------------------------------------- h31
    // STORAGE-PARTITIONED JOIN: customer and orders are both written as
    // hadro collections bucketed on custkey (hadro.bucketBy/buckets — every
    // segment tagged with pmod(xxhash64(key), 8)); their catalog-resolved
    // scans report bucket(8, key) KeyGroupedPartitioning, and with v2
    // bucketing enabled Spark plans the fact-fact join with ZERO exchanges
    // (BucketedCollectionSpec asserts the plan). Broadcast is disabled so
    // the join cannot dodge into a broadcast; the join runs inside the
    // builder (localCheckpoint) so those confs restore before the next
    // query. The co-location a 100 TB fact-fact join lives on.
    QueryDef(
      "h31_spj_join",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_spj/$tag"
        s.conf.set("spark.sql.catalog.graft_h31",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h31.warehouse", wh)
        def put(name: String, key: String): Unit =
          table(s, dir, name)
            .repartition(8, pmod(xxhash64(col(key)), lit(8)))
            .write.format("hadro").mode("overwrite")
            .option("hadro.bucketBy", key).option("hadro.buckets", "8")
            .save(s"$wh/db/$name")
        Fixtures.buildOnce(dir, "h31") {
          put("customer", "c_custkey")
          put("orders", "o_custkey")
        }
        val savedBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        val savedV2 = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          s.table("graft_h31.db.customer")
            .join(s.table("graft_h31.db.orders"),
              col("c_custkey") === col("o_custkey"))
            .groupBy(col("c_custkey")).agg(count(lit(1)).as("n"))
            .localCheckpoint() // execute NOW, under the SPJ confs
            .orderBy("c_custkey")
        } finally {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
          savedV2 match {
            case Some(v) => s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
            case None => s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
          }
        }
      },
      Some("""SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n
        FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey ORDER BY c_custkey""")),

    // ---------------------------------------------------------------- h32
    // SQL row-level DELETE on a KEYED table (INTERFACE.md:15-17 from pure
    // SQL): DELETE FROM appends key tombstones through SupportsDeleteV2 —
    // one manifest commit, no data rewrite — and resolved reads are
    // LWW-correct immediately. A key UPDATED so its latest version no
    // longer matches the predicate must survive.
    QueryDef(
      "h32_sql_delete",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_sqldel/$tag"
        s.conf.set("spark.sql.catalog.graft_h32",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h32.warehouse", wh)
        val path = s"$wh/db/customer"
        Fixtures.restoreFromTemplate(s, dir, "cust_keyed",
          s"/tmp/graft_custk/${tag}_template", path) { tpl =>
          table(s, dir, "customer")
            .write.format("hadro").mode("overwrite")
            .option("hadro.key", "c_custkey").save(tpl)
        }
        val c = Collection(s, path)
        // update one in-range key so its latest version escapes the delete
        c.set(table(s, dir, "customer").filter($"c_custkey" === 7L)
          .withColumn("c_acctbal", lit(9999999.0)))
        s.sql("DELETE FROM graft_h32.db.customer " +
          "WHERE c_acctbal < 0 AND c_custkey BETWEEN 0 AND 400")
        c.toDF().select($"c_custkey", $"c_name", $"c_acctbal")
          .orderBy($"c_custkey")
      },
      Some("""WITH latest AS (
          SELECT c_custkey, c_name,
            CASE WHEN c_custkey = 7 THEN 9999999.0 ELSE c_acctbal END AS c_acctbal
          FROM customer)
        SELECT c_custkey, c_name, c_acctbal FROM latest
        WHERE NOT (c_acctbal < 0 AND c_custkey BETWEEN 0 AND 400)
        ORDER BY c_custkey""")),

    // ---------------------------------------------------------------- h33
    // SQL row-level DELETE on a NON-keyed table: segment-selective
    // copy-on-write — manifest stats prune the rewrite to the segments
    // that might match (range-clustered ingest makes most of them
    // skippable), carried in ONE atomic replace commit; plain SQL SELECT
    // reflects the delete with no resolution step.
    QueryDef(
      "h33_sql_delete_cow",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_sqldel/$tag"
        s.conf.set("spark.sql.catalog.graft_h33",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h33.warehouse", wh)
        // clustered (most segments skip); shared li16 template, clone-restored
        Fixtures.restoreFromTemplate(s, dir, "li16",
          s"/tmp/graft_li16/${tag}_template", s"$wh/db/lineitem") { tpl =>
          table(s, dir, "lineitem")
            .repartitionByRange(16, $"l_orderkey")
            .write.format("hadro").mode("overwrite").save(tpl)
        }
        s.sql("DELETE FROM graft_h33.db.lineitem " +
          "WHERE l_orderkey < 1200 AND l_discount > 0.05")
        s.sql("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          FROM graft_h33.db.lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE NOT (l_orderkey < 1200 AND l_discount > 0.05)
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---------------------------------------------------------------- h34
    // Small-segment bin-packing (compactSmall): streaming epochs / per-
    // bucket writes leave many tiny segments; the maintenance pack rewrites
    // ONLY contiguous small runs through atomic replace commits (never
    // compact()'s rewrite-the-world), preserving keyed LWW + tombstones.
    // Read back after packing must be byte-identical to the resolved view.
    QueryDef(
      "h34_compact_small",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "supplier")
        // template = the fragmented state (6 upsert epochs + a tombstone
        // epoch), built once; each rep clones it and re-pays only the
        // compactSmall pack under test
        Fixtures.restoreFromTemplate(s, dir, "h34_frag",
          colPath(dir, "h34_template"), colPath(dir, "h34")) { tpl =>
          val c0 = Collection.create(s, tpl, src,
            key = Some("s_suppkey"), numSegments = 1)
          (0 until 6).foreach { i =>
            c0.set(src.filter($"s_suppkey" % 6 === i)
              .withColumn("s_name", concat(lit("packed-"), $"s_suppkey")).coalesce(1))
          }
          c0.delete(src.filter($"s_suppkey" % 10 === 3).select($"s_suppkey"))
        }
        val c = Collection(s, colPath(dir, "h34"))
        c.compactSmall(minBytes = 1L << 26)
        c.toDF().select($"s_suppkey", $"s_name", $"s_acctbal").orderBy($"s_suppkey")
      },
      Some("""SELECT s_suppkey, concat('packed-', s_suppkey) AS s_name, s_acctbal
        FROM supplier WHERE s_suppkey % 10 <> 3 ORDER BY s_suppkey""")),

    // ---------------------------------------------------------------- h35
    // SQL row-level UPDATE on a KEYED table (SupportsRowLevelOperations →
    // delta merge-on-read): matching keys get NEW versions APPENDED in one
    // commit — no segment rewrite, O(changed rows) bytes, the Bitcask-
    // native mutation shape. The collection is pre-mutated (an upsert
    // shadows key 7) so the statement must see RESOLVED rows: key 7's
    // stale negative version matching the WHERE must not resurrect.
    QueryDef(
      "h35_sql_update",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_sqlupd/$tag"
        s.conf.set("spark.sql.catalog.graft_h35",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h35.warehouse", wh)
        val path = s"$wh/db/customer"
        Fixtures.restoreFromTemplate(s, dir, "cust_keyed",
          s"/tmp/graft_custk/${tag}_template", path) { tpl =>
          table(s, dir, "customer")
            .write.format("hadro").mode("overwrite")
            .option("hadro.key", "c_custkey").save(tpl)
        }
        val c = Collection(s, path)
        c.set(table(s, dir, "customer").filter($"c_custkey" === 7L)
          .withColumn("c_acctbal", lit(9999999.0)))
        s.sql("UPDATE graft_h35.db.customer SET c_acctbal = c_acctbal + 1000 " +
          "WHERE c_acctbal < 0 AND c_custkey BETWEEN 0 AND 400")
        c.toDF().select($"c_custkey", $"c_name", $"c_acctbal")
          .orderBy($"c_custkey")
      },
      Some("""WITH latest AS (
          SELECT c_custkey, c_name,
            CASE WHEN c_custkey = 7 THEN 9999999.0 ELSE c_acctbal END AS c_acctbal
          FROM customer)
        SELECT c_custkey, c_name,
          CASE WHEN c_acctbal < 0 AND c_custkey BETWEEN 0 AND 400
               THEN c_acctbal + 1000 ELSE c_acctbal END AS c_acctbal
        FROM latest ORDER BY c_custkey""")),

    // ---------------------------------------------------------------- h36
    // SQL MERGE INTO a keyed table — matched-update, matched-delete, and
    // not-matched-insert branches land as one atomic delta commit
    // (appended versions + tombstones; tombstone segments take lower
    // ordinals so delete-then-reinsert of a key resolves to the insert).
    QueryDef(
      "h36_sql_merge",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_sqlupd/$tag"
        s.conf.set("spark.sql.catalog.graft_h36",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h36.warehouse", wh)
        val path = s"$wh/db/customer"
        Fixtures.restoreFromTemplate(s, dir, "cust_keyed",
          s"/tmp/graft_custk/${tag}_template", path) { tpl =>
          table(s, dir, "customer")
            .write.format("hadro").mode("overwrite")
            .option("hadro.key", "c_custkey").save(tpl)
        }
        table(s, dir, "customer").filter($"c_custkey" % 5 === 0)
          .select($"c_custkey", $"c_acctbal")
          .unionByName(table(s, dir, "customer").filter($"c_custkey" % 7 === 0)
            .select(($"c_custkey" + 1000000L).as("c_custkey"),
              lit(123.45).as("c_acctbal")))
          .createOrReplaceTempView("graft_h36_src")
        s.sql("""MERGE INTO graft_h36.db.customer t USING graft_h36_src s
          ON t.c_custkey = s.c_custkey
          WHEN MATCHED AND s.c_acctbal < 0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal * 2
          WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal)
            VALUES (s.c_custkey, s.c_acctbal)""")
        Collection(s, path).toDF().select($"c_custkey", $"c_acctbal")
          .orderBy($"c_custkey")
      },
      Some("""WITH src AS (
          SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 5 = 0
          UNION ALL
          SELECT c_custkey + 1000000 AS c_custkey, 123.45 AS c_acctbal
          FROM customer WHERE c_custkey % 7 = 0),
        kept AS (
          SELECT t.c_custkey,
            CASE WHEN s.c_custkey IS NOT NULL THEN t.c_acctbal * 2
                 ELSE t.c_acctbal END AS c_acctbal
          FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey
          WHERE NOT (s.c_custkey IS NOT NULL AND s.c_acctbal < 0)),
        ins AS (
          SELECT s.c_custkey, s.c_acctbal FROM src s
          LEFT JOIN customer t ON t.c_custkey = s.c_custkey
          WHERE t.c_custkey IS NULL)
        SELECT c_custkey, c_acctbal
        FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        ORDER BY c_custkey""")),

    // ---------------------------------------------------------------- h37
    // SQL row-level UPDATE on a NON-keyed table (group-based copy-on-
    // write): the operation's scan prunes to the stats/bloom-affected
    // segments, records exactly the files it planned, and the commit
    // replaces precisely those files — range-clustered ingest makes most
    // segments skip, so the rewrite cost tracks the predicate, not the
    // table (the UPDATE twin of h33's CoW DELETE).
    QueryDef(
      "h37_sql_update_cow",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_sqlupd/$tag"
        s.conf.set("spark.sql.catalog.graft_h37",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h37.warehouse", wh)
        // restore the 16-segment ingest from a built-once template (zero-
        // copy clone); each rep re-pays only the CoW UPDATE under test
        Fixtures.restoreFromTemplate(s, dir, "li16",
          s"/tmp/graft_li16/${tag}_template", s"$wh/db/lineitem") { tpl =>
          table(s, dir, "lineitem")
            .repartitionByRange(16, $"l_orderkey")
            .write.format("hadro").mode("overwrite").save(tpl)
        }
        s.sql("UPDATE graft_h37.db.lineitem SET l_quantity = l_quantity + 100 " +
          "WHERE l_orderkey < 1200 AND l_discount > 0.05")
        s.sql("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          FROM graft_h37.db.lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(CASE WHEN l_orderkey < 1200 AND l_discount > 0.05
            THEN l_quantity + 100 ELSE l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---------------------------------------------------------------- h38
    // Z-order over a STRING dimension: cluster documents on (lang,
    // n_chars) — the monotone 4-byte-prefix value (min/max-rescaled so
    // ascii-lowercase lang tags spread over the full bucket range) makes
    // per-segment min/max narrow on the STRING column itself, so a
    // lang = 'zh' curation filter prunes segments just like a numeric
    // range does (pruning asserted in LayoutSpec; the oracle proves the
    // rewrite lossless and the filter exact).
    QueryDef(
      "h38_zorder_string",
      (s, dir) => {
        import s.implicits._
        Fixtures.buildOnce(dir, "h38") {
          val c0 = Collection.create(s, colPath(dir, "h38"),
            table(s, dir, "documents")
              .select($"doc_id", $"lang", $"source", $"n_chars"),
            numSegments = 4)
          c0.cluster(Seq("lang", "n_chars"), numSegments = 16)
        }
        val c = Collection(s, colPath(dir, "h38"))
        c.scan().filter($"lang" === "zh" && $"n_chars" < 2000)
          .select($"doc_id", $"lang", $"n_chars")
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
        WHERE lang = 'zh' AND n_chars < 2000 ORDER BY doc_id""")),

    // ---------------------------------------------------------------- h39
    // Declared-sort scan: a single-column cluster() rewrite range-sorts
    // the collection on the column itself and records `sortedBy`; the scan
    // reports per-partition ordering (SupportsReportOrdering), so Spark's
    // RemoveRedundantSorts plans away sorts the storage already did
    // (asserted in LayoutSpec). Here the oracle proves the sorted rewrite
    // is lossless and range filters on the sort column stay exact — and
    // the range-clustered layout means they prune segments too.
    QueryDef(
      "h39_sorted_cluster_scan",
      (s, dir) => {
        import s.implicits._
        Fixtures.buildOnce(dir, "h39") {
          val c0 = Collection.create(s, colPath(dir, "h39"),
            table(s, dir, "orders"), numSegments = 4)
          c0.cluster(Seq("o_totalprice"), numSegments = 8)
        }
        val c = Collection(s, colPath(dir, "h39"))
        c.scan().filter($"o_totalprice" between (50000.0, 100000.0))
          .select($"o_orderkey", $"o_totalprice")
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice BETWEEN 50000.0 AND 100000.0 ORDER BY o_orderkey""")),

    // ---------------------------------------------------------------- h40
    // SQL time travel: `VERSION AS OF` pins a query to a committed manifest
    // version through the catalog (TableCatalog.loadTable(ident, version)),
    // the SQL twin of h13's scanVersion API. A later commit appends noise
    // rows (uppercased names); reading the pre-noise version must return
    // exactly the original table. TIMESTAMP AS OF + fail-fast retention
    // errors are spec-covered (CatalogSpec).
    QueryDef(
      "h40_sql_time_travel",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h40"
        s.conf.set("spark.sql.catalog.graft_h40", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h40.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h40.db")
        s.sql("DROP TABLE IF EXISTS graft_h40.db.regions")
        s.sql("""CREATE TABLE graft_h40.db.regions
          (r_regionkey INT, r_name STRING) USING hadro""")
        QueryDef.table(s, dir, "region").createOrReplaceTempView("h40_src")
        s.sql("INSERT INTO graft_h40.db.regions SELECT * FROM h40_src")
        val v1 = graft.api.Collection(s, s"$wh/db/regions").version
        s.sql("INSERT INTO graft_h40.db.regions SELECT r_regionkey, upper(r_name) FROM h40_src")
        s.sql(s"""SELECT r_regionkey, r_name
          FROM graft_h40.db.regions VERSION AS OF $v1 ORDER BY r_regionkey""")
      },
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    // ---------------------------------------------------------------- h41
    // SQL maintenance procedures: the whole storage-maintenance lifecycle —
    // bin-packing small segments (compact_small), range-clustering
    // (cluster), full compaction (compact), space reclaim (vacuum) — driven
    // entirely through `CALL <catalog>.system.<proc>(...)`, then proven
    // lossless: the surviving table must equal the source exactly.
    QueryDef(
      "h41_sql_procedures",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h41"
        s.conf.set("spark.sql.catalog.graft_h41", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h41.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h41.db")
        s.sql("DROP TABLE IF EXISTS graft_h41.db.parts")
        s.sql("""CREATE TABLE graft_h41.db.parts
          (p_partkey BIGINT, p_name STRING, p_brand STRING, p_size INT) USING hadro""")
        QueryDef.table(s, dir, "part")
          .select("p_partkey", "p_name", "p_brand", "p_size")
          .createOrReplaceTempView("h41_src")
        // four inserts = four segments to give compact_small real work
        (0 until 4).foreach(i => s.sql(
          s"INSERT INTO graft_h41.db.parts SELECT * FROM h41_src WHERE p_partkey % 4 = $i"))
        s.sql("CALL graft_h41.system.compact_small('db.parts', 268435456)")
        s.sql("CALL graft_h41.system.cluster('db.parts', 'p_partkey', 4)")
        s.sql("CALL graft_h41.system.compact('db.parts')")
        s.sql("CALL graft_h41.system.vacuum('db.parts')")
        s.sql("""SELECT p_partkey, p_name, p_brand, p_size
          FROM graft_h41.db.parts ORDER BY p_partkey""")
      },
      Some("SELECT p_partkey, p_name, p_brand, p_size FROM part ORDER BY p_partkey")),

    // ---------------------------------------------------------------- h42
    // Sort-merge-bucket join: both sides bucketed on the join key AND
    // per-bucket sorted (`hadro.sortedBy`, one unsplit segment per bucket),
    // so the scan reports KeyGroupedPartitioning + per-partition ordering
    // and the SortMergeJoin runs with ZERO exchanges and ZERO sorts (plan
    // contract asserted in BucketedCollectionSpec) — the floor cost of a
    // 100 TB fact-fact join. The oracle proves the exotic layout returns
    // plain-SQL-join answers.
    QueryDef(
      "h42_smb_join",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_spj/${tag}_h42"
        s.conf.set("spark.sql.catalog.graft_h42",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h42.warehouse", wh)
        def put(name: String, key: String): Unit =
          table(s, dir, name)
            .repartition(8, pmod(xxhash64(col(key)), lit(8)))
            .sortWithinPartitions(key)
            .write.format("hadro").mode("overwrite")
            .option("hadro.bucketBy", key).option("hadro.buckets", "8")
            .option("hadro.sortedBy", key)
            .save(s"$wh/db/$name")
        Fixtures.buildOnce(dir, "h42") {
          put("customer", "c_custkey")
          put("orders", "o_custkey")
        }
        val savedBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        val savedV2 = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          s.table("graft_h42.db.orders")
            .join(s.table("graft_h42.db.customer"),
              col("o_custkey") === col("c_custkey"))
            .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
              col("o_totalprice"))
            .localCheckpoint() // execute NOW, under the SPJ confs
            .orderBy("o_orderkey")
        } finally {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
          savedV2 match {
            case Some(v) => s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
            case None => s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
          }
        }
      },
      Some("""SELECT o_orderkey, o_custkey, c_name, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
        ORDER BY o_orderkey""")),

    // ---------------------------------------------------------------- h43
    // Top-N pushdown (`SupportsPushDownTopN`): ORDER BY the cluster key
    // LIMIT n plans only the segment prefix whose min/max range can
    // intersect the true top n — on this range-clustered collection that
    // is 1-2 of 8 segments (prefix size and correctness guards asserted in
    // TopNPushdownSpec; ascending, descending, overlapping-layout,
    // mutated, and null cases). At 100 TB this is "cheapest 100 orders"
    // reading one segment instead of the corpus. The oracle proves the
    // pruned plan returns the exact SQL top-n (deterministic via the
    // o_orderkey tiebreak).
    QueryDef(
      "h43_topn_pushdown",
      (s, dir) => {
        import s.implicits._
        Fixtures.buildOnce(dir, "h43") {
          val c0 = Collection.create(s, colPath(dir, "h43"),
            table(s, dir, "orders"), numSegments = 4)
          c0.cluster(Seq("o_totalprice"), numSegments = 8)
        }
        val c = Collection(s, colPath(dir, "h43"))
        c.scan().select($"o_orderkey", $"o_totalprice")
          .orderBy($"o_totalprice", $"o_orderkey").limit(50)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice, o_orderkey LIMIT 50""")),

    // ---------------------------------------------------------------- h44
    // Schema evolution beyond append — DROP + RENAME, both metadata-only:
    // the dropped column's physical slot stays under a reserved invisible
    // name (positional decode skips its bytes forever), the rename remaps
    // every name-keyed reference (stats, indexes, sort/bucket decls) in
    // one manifest commit. Old segments (written pre-evolution, p_brand
    // bytes still on disk) and post-evolution appends (no p_brand slot
    // value, new column name) must read back as ONE consistent logical
    // table — which the oracle reproduces from raw parquet. Guards and
    // re-add-same-name freshness are spec-covered (EvolutionSpec).
    QueryDef(
      "h44_rename_drop_evolution",
      (s, dir) => {
        import s.implicits._
        val src = table(s, dir, "part")
          .select($"p_partkey", $"p_name", $"p_brand", $"p_size")
        val c = Collection.create(s, colPath(dir, "h44"), src, numSegments = 4)
        c.dropColumn("p_brand")
        c.renameColumn("p_size", "units")
        c.append(src.filter($"p_partkey" % 3 === 0)
          .select(($"p_partkey" + 1000000L).as("p_partkey"), $"p_name",
            $"p_size".as("units")))
        c.scan().select($"p_partkey", $"p_name", $"units")
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey, p_name, p_size AS units FROM part
        UNION ALL
        SELECT p_partkey + 1000000, p_name, p_size FROM part
        WHERE p_partkey % 3 = 0
        ORDER BY p_partkey""")),

    // ---------------------------------------------------------------- h45
    // Prefix + OR pruning: `source LIKE 'src1%' AND (lang = 'en' OR lang =
    // 'de')` — the corpus-curation filter shape — prunes segments through
    // min/max stats on a string-z-ordered layout: StartsWith intersects
    // each segment's range with [prefix, asciiSuccessor), OR prunes only
    // segments where BOTH branches are impossible (bound logic + an
    // end-to-end pruned-scan assertion in PushdownSpec). The oracle proves
    // the pruned plan returns the exact filter result.
    QueryDef(
      "h45_prefix_or_scan",
      (s, dir) => {
        import s.implicits._
        Fixtures.buildOnce(dir, "h45") {
          val c0 = Collection.create(s, colPath(dir, "h45"),
            table(s, dir, "documents")
              .select($"doc_id", $"lang", $"source", $"n_chars"),
            numSegments = 4)
          c0.cluster(Seq("source", "lang"), numSegments = 16)
        }
        val c = Collection(s, colPath(dir, "h45"))
        c.scan()
          .filter(($"lang" === "en" || $"lang" === "de") && $"source".startsWith("src1"))
          .select($"doc_id", $"lang", $"source")
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, lang, source FROM documents
        WHERE lang IN ('en', 'de') AND source LIKE 'src1%'
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- h46
    // DELETION-VECTOR delete (merge-on-read for non-keyed tables,
    // `spark.hadro.delete.mode=dv`): the DELETE writes one bitmap sidecar
    // per affected segment — O(matched rows) bytes — instead of h33's
    // copy-on-write segment rewrite; readers skip vectored rows on both
    // decode paths. At 100 TB this is the "delete 0.1% of every segment"
    // shape where CoW would rewrite the whole corpus. No-rewrite,
    // union/idempotence, time travel, and compaction fold-away are
    // spec-asserted (DeleteVectorSpec); the oracle proves reads exact.
    QueryDef(
      "h46_dv_delete",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_dv/$tag"
        s.conf.set("spark.sql.catalog.graft_h46",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h46.warehouse", wh)
        // zero-copy restore from the shared 8-segment lineitem template
        // (h80's): each rep re-pays only the DV DELETE under test
        Fixtures.restoreFromTemplate(s, dir, "li8",
          s"/tmp/graft_li8/${tag}_template", s"$wh/db/li") { tpl =>
          table(s, dir, "lineitem").repartitionByRange(8, $"l_orderkey")
            .write.format("hadro").mode("overwrite").save(tpl)
        }
        s.conf.set("spark.hadro.delete.mode", "dv")
        try s.sql("DELETE FROM graft_h46.db.li WHERE l_quantity >= 30.0")
        finally s.conf.unset("spark.hadro.delete.mode")
        s.sql("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          FROM graft_h46.db.li GROUP BY l_returnflag ORDER BY l_returnflag""")
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM lineitem WHERE NOT (l_quantity >= 30.0)
        GROUP BY l_returnflag ORDER BY l_returnflag"""))
    ,

    // ---------------------------------------------------------------- h47
    // Type-WIDENING evolution (ALTER COLUMN ... TYPE, metadata-only): the
    // narrow segments stay byte-identical on disk; one manifest commit
    // records their write-time types (SegmentInfo.writeTypes) and readers
    // widen per value at decode (int->long, float->double, decimal
    // scale-up), while post-ALTER appends encode the wide type directly.
    // Old-narrow + new-wide segments must read back as ONE table at the
    // wide schema — the oracle reproduces exactly that from raw parquet.
    // Unsafe narrowing and key/bucket/indexed-column widening are
    // rejected (EvolutionSpec).
    // The widened decimal is PROJECTED AS STRING ("900.0000" — scale-4
    // rendering, so the widened representation is still what's checked):
    // a bare DECIMAL output column reads as decimal.Decimal via pyarrow
    // but float64 via DuckDB's pandas bridge, and the driver's typed-value
    // hash trips on that representation gap (the r8 h47 failure).
    QueryDef(
      "h47_type_widening",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.types.{LongType, DoubleType, DecimalType}
        val src = table(s, dir, "part").select(
          $"p_partkey", $"p_size",
          $"p_retailprice".cast("float").as("price_f"),
          $"p_retailprice".cast("decimal(10,2)").as("price_d"))
        val c = Collection.create(s, colPath(dir, "h47"), src, numSegments = 4)
        c.widenColumn("p_size", LongType)
        c.widenColumn("price_f", DoubleType)
        c.widenColumn("price_d", DecimalType(14, 4))
        c.append(src.filter($"p_partkey" % 5 === 0).select(
          ($"p_partkey" + 2000000L).as("p_partkey"),
          ($"p_size".cast("long") + 1000L).as("p_size"),
          $"price_f".cast("double").as("price_f"),
          $"price_d".cast("decimal(14,4)").as("price_d")))
        c.scan().select($"p_partkey", $"p_size", $"price_f",
            $"price_d".cast("string").as("price_d"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
          CAST(CAST(p_retailprice AS REAL) AS DOUBLE) AS price_f,
          CAST(CAST(CAST(p_retailprice AS DECIMAL(10,2)) AS DECIMAL(14,4))
            AS VARCHAR) AS price_d
        FROM part
        UNION ALL
        SELECT p_partkey + 2000000, CAST(p_size AS BIGINT) + 1000,
          CAST(CAST(p_retailprice AS REAL) AS DOUBLE),
          CAST(CAST(CAST(p_retailprice AS DECIMAL(10,2)) AS DECIMAL(14,4))
            AS VARCHAR)
        FROM part WHERE p_partkey % 5 = 0
        ORDER BY p_partkey"""))
    ,

    // ---------------------------------------------------------------- h48
    // MERGE with ALL THREE clause families — WHEN MATCHED (update +
    // conditional delete), WHEN NOT MATCHED (insert), and WHEN NOT
    // MATCHED BY SOURCE (conditional delete + update) — the full
    // SQL:2023 MERGE surface over the keyed delta (merge-on-read) path:
    // every branch lands as appended versions/tombstones in ONE manifest
    // commit, tombstone segments globally ordered before data segments.
    // The oracle reproduces the exact clause semantics with joins.
    QueryDef(
      "h48_merge_not_matched_by_source",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_h48/$tag"
        s.conf.set("spark.sql.catalog.graft_h48",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h48.warehouse", wh)
        val path = s"$wh/db/customer"
        table(s, dir, "customer").select($"c_custkey", $"c_acctbal")
          .write.format("hadro").mode("overwrite")
          .option("hadro.key", "c_custkey").save(path)
        table(s, dir, "customer").filter($"c_custkey" % 4 === 0)
          .select($"c_custkey", $"c_acctbal")
          .unionByName(table(s, dir, "customer").filter($"c_custkey" % 9 === 0)
            .select(($"c_custkey" + 1000000L).as("c_custkey"),
              lit(55.5).as("c_acctbal")))
          .createOrReplaceTempView("graft_h48_src")
        s.sql("""MERGE INTO graft_h48.db.customer t USING graft_h48_src s
          ON t.c_custkey = s.c_custkey
          WHEN MATCHED AND s.c_acctbal < 0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal + 10
          WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal)
            VALUES (s.c_custkey, s.c_acctbal)
          WHEN NOT MATCHED BY SOURCE AND t.c_acctbal < 0 THEN DELETE
          WHEN NOT MATCHED BY SOURCE THEN UPDATE SET c_acctbal = t.c_acctbal - 1""")
        Collection(s, path).toDF().select($"c_custkey", $"c_acctbal")
          .orderBy($"c_custkey")
      },
      Some("""WITH src AS (
          SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 4 = 0
          UNION ALL
          SELECT c_custkey + 1000000 AS c_custkey, 55.5 AS c_acctbal
          FROM customer WHERE c_custkey % 9 = 0),
        kept AS (
          SELECT t.c_custkey,
            CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal + 10
                 ELSE t.c_acctbal - 1 END AS c_acctbal
          FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey
          WHERE NOT (s.c_custkey IS NOT NULL AND s.c_acctbal < 0)
            AND NOT (s.c_custkey IS NULL AND t.c_acctbal < 0)),
        ins AS (
          SELECT s.c_custkey, s.c_acctbal FROM src s
          LEFT JOIN customer t ON t.c_custkey = s.c_custkey
          WHERE t.c_custkey IS NULL)
        SELECT c_custkey, c_acctbal
        FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        ORDER BY c_custkey"""))
    ,

    // ---------------------------------------------------------------- h49
    // SQL rollback (Delta RESTORE / Iceberg rollback_to_snapshot analog):
    // insert the base table, commit two rounds of damage (a bad append and
    // a DELETE), then CALL graft.system.rollback back to the good version
    // — metadata-only, regardless of table size. The read after rollback
    // must equal the original table exactly: appended rows are gone AND
    // deleted rows are resurrected. A follow-up append proves the restored
    // head is fully writable (ordinals continue, generation bumped).
    QueryDef(
      "h49_sql_rollback",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h49"
        s.conf.set("spark.sql.catalog.graft_h49", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h49.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h49.db")
        s.sql("DROP TABLE IF EXISTS graft_h49.db.suppliers")
        s.sql("""CREATE TABLE graft_h49.db.suppliers
          (s_suppkey BIGINT, s_name STRING, s_acctbal DOUBLE) USING hadro""")
        QueryDef.table(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_acctbal")
          .createOrReplaceTempView("h49_src")
        s.sql("INSERT INTO graft_h49.db.suppliers SELECT * FROM h49_src")
        val good = graft.api.Collection(s, s"$wh/db/suppliers").version
        // damage round 1: a bad append; round 2: a destructive delete.
        // The delete runs MERGE-ON-READ (deletion vectors), which is
        // metadata-only. A CoW delete would be restorable too: its partial
        // replace commit keeps every retained manifest and defers the
        // replaced files one generation. Rolling back here proves the
        // restored head drops the later DV sidecar reference, exactly
        // resurrecting the vectored rows.
        s.sql("""INSERT INTO graft_h49.db.suppliers
          SELECT s_suppkey + 9000000, s_name, -1.0 FROM h49_src""")
        s.conf.set("spark.hadro.delete.mode", "dv")
        try s.sql("DELETE FROM graft_h49.db.suppliers WHERE s_suppkey % 2 = 0")
        finally s.conf.unset("spark.hadro.delete.mode")
        s.sql(s"CALL graft_h49.system.rollback('db.suppliers', $good)")
        // restored head stays writable: append a disjoint tail on top
        s.sql("""INSERT INTO graft_h49.db.suppliers
          SELECT s_suppkey + 5000000, s_name, s_acctbal + 1 FROM h49_src
          WHERE s_suppkey % 10 = 0""")
        s.sql("""SELECT s_suppkey, s_name, s_acctbal
          FROM graft_h49.db.suppliers ORDER BY s_suppkey""")
      },
      Some("""SELECT s_suppkey, s_name, s_acctbal FROM supplier
        UNION ALL
        SELECT s_suppkey + 5000000, s_name, s_acctbal + 1 FROM supplier
        WHERE s_suppkey % 10 = 0
        ORDER BY s_suppkey"""))
    ,

    // ---------------------------------------------------------------- h50
    // ADD COLUMN ... DEFAULT: metadata-only evolution where rows written
    // BEFORE the column existed read back the frozen at-ALTER-time
    // constant (not null), while later INSERTs may omit the column and get
    // it analyzer-filled, or supply explicit values (including NULL, which
    // stays NULL — the default only back-fills physically-absent fields).
    // Exercises both reader paths (the row reader via the changefeed-free
    // scan and the vectorized reader) plus insert-fill; the oracle builds
    // the same three-era table from raw parquet.
    QueryDef(
      "h50_add_column_default",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h50"
        s.conf.set("spark.sql.catalog.graft_h50", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h50.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h50.db")
        s.sql("DROP TABLE IF EXISTS graft_h50.db.nations")
        s.sql("""CREATE TABLE graft_h50.db.nations
          (n_nationkey INT, n_name STRING) USING hadro""")
        QueryDef.table(s, dir, "nation").select("n_nationkey", "n_name")
          .createOrReplaceTempView("h50_src")
        s.sql("INSERT INTO graft_h50.db.nations SELECT * FROM h50_src")
        s.sql("""ALTER TABLE graft_h50.db.nations
          ADD COLUMN region_code STRING DEFAULT 'UNASSIGNED'""")
        // era 2: INSERT omitting the column — analyzer fills the default
        s.sql("""INSERT INTO graft_h50.db.nations (n_nationkey, n_name)
          SELECT n_nationkey + 100, n_name FROM h50_src WHERE n_nationkey % 5 = 0""")
        // era 3: explicit values, including an explicit NULL
        s.sql("""INSERT INTO graft_h50.db.nations
          SELECT n_nationkey + 200, n_name,
            CASE WHEN n_nationkey % 2 = 0 THEN 'ZONE-' || n_nationkey ELSE NULL END
          FROM h50_src WHERE n_nationkey % 3 = 0""")
        s.sql("""SELECT n_nationkey, n_name, region_code
          FROM graft_h50.db.nations ORDER BY n_nationkey""")
      },
      Some("""SELECT n_nationkey, n_name, 'UNASSIGNED' AS region_code FROM nation
        UNION ALL
        SELECT n_nationkey + 100, n_name, 'UNASSIGNED' FROM nation
        WHERE n_nationkey % 5 = 0
        UNION ALL
        SELECT n_nationkey + 200, n_name,
          CASE WHEN n_nationkey % 2 = 0 THEN 'ZONE-' || n_nationkey ELSE NULL END
        FROM nation WHERE n_nationkey % 3 = 0
        ORDER BY n_nationkey"""))
    ,

    // ---------------------------------------------------------------- h51
    // MERGE-ON-READ UPDATE for a NON-KEYED table (Iceberg-v2 position-
    // delete shape): `spark.hadro.update.mode=dv` routes the UPDATE through
    // the deletion-vector delta operation — old row positions become bitmap
    // bits, updated rows append as new segments, ONE manifest commit,
    // O(matched rows) bytes written. The predicate is deliberately
    // arithmetic (`% 3`) — not V1-pushable — proving merge-on-read needs no
    // pushability, unlike the metadata `deleteWhere` hook. At 100 TB this
    // is the difference between touching ~0.3% of rows and rewriting every
    // affected multi-GB segment.
    QueryDef(
      "h51_mor_update",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h51"
        s.conf.set("spark.sql.catalog.graft_h51", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h51.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h51.db")
        s.sql("DROP TABLE IF EXISTS graft_h51.db.suppliers")
        s.sql("""CREATE TABLE graft_h51.db.suppliers
          (s_suppkey BIGINT, s_name STRING, s_acctbal DOUBLE) USING hadro""")
        QueryDef.table(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_acctbal")
          .createOrReplaceTempView("h51_src")
        s.sql("INSERT INTO graft_h51.db.suppliers SELECT * FROM h51_src")
        s.conf.set("spark.hadro.update.mode", "dv")
        try s.sql("""UPDATE graft_h51.db.suppliers
          SET s_acctbal = s_acctbal + 100 WHERE s_suppkey % 3 = 0""")
        finally s.conf.unset("spark.hadro.update.mode")
        s.sql("""SELECT s_suppkey, s_name, s_acctbal
          FROM graft_h51.db.suppliers ORDER BY s_suppkey""")
      },
      Some("""SELECT s_suppkey, s_name,
          CASE WHEN s_suppkey % 3 = 0 THEN s_acctbal + 100 ELSE s_acctbal END
            AS s_acctbal
        FROM supplier ORDER BY s_suppkey"""))
    ,

    // ---------------------------------------------------------------- h52
    // ZERO-COPY CLONE (Delta SHALLOW CLONE analog): CALL clone hard-links
    // the current version's immutable segment files into a NEW table with
    // fresh history — no data rewritten, any table size, instant. The
    // clone then DIVERGES: a merge-on-read delete in the clone must leave
    // the source byte-identical (shared inodes, independent manifests).
    // The result reads both sides after divergence.
    QueryDef(
      "h52_zero_copy_clone",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h52"
        s.conf.set("spark.sql.catalog.graft_h52", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h52.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h52.db")
        s.sql("DROP TABLE IF EXISTS graft_h52.db.suppliers")
        s.sql("DROP TABLE IF EXISTS graft_h52.db.suppliers_dev")
        s.sql("""CREATE TABLE graft_h52.db.suppliers
          (s_suppkey BIGINT, s_name STRING, s_acctbal DOUBLE) USING hadro""")
        QueryDef.table(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_acctbal")
          .createOrReplaceTempView("h52_src")
        s.sql("INSERT INTO graft_h52.db.suppliers SELECT * FROM h52_src")
        s.sql("CALL graft_h52.system.clone('db.suppliers', 'db.suppliers_dev')")
        s.conf.set("spark.hadro.delete.mode", "dv")
        try s.sql("DELETE FROM graft_h52.db.suppliers_dev WHERE s_suppkey % 2 = 0")
        finally s.conf.unset("spark.hadro.delete.mode")
        s.sql("""SELECT 'clone' AS side, s_suppkey, s_acctbal
            FROM graft_h52.db.suppliers_dev
          UNION ALL
          SELECT 'src', s_suppkey, s_acctbal FROM graft_h52.db.suppliers
          ORDER BY side, s_suppkey""")
      },
      Some("""SELECT 'clone' AS side, s_suppkey, s_acctbal FROM supplier
          WHERE NOT (s_suppkey % 2 = 0)
        UNION ALL
        SELECT 'src', s_suppkey, s_acctbal FROM supplier
        ORDER BY side, s_suppkey"""))
    ,

    // ---------------------------------------------------------------- h53
    // SQL METADATA TABLES (Iceberg `db.t.files` shape): the per-segment
    // physical inventory is a plain queryable relation — here summed into
    // engine-independent totals (physical rows, deletion-vectored rows)
    // after a merge-on-read delete, which the oracle re-derives from the
    // logical data alone. The operator's first question at 100 TB —
    // "what is the physical state of this table" — answered by SELECT,
    // no procedures, no logs.
    QueryDef(
      "h53_metadata_tables",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h53"
        s.conf.set("spark.sql.catalog.graft_h53", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h53.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h53.db")
        s.sql("DROP TABLE IF EXISTS graft_h53.db.suppliers")
        s.sql("""CREATE TABLE graft_h53.db.suppliers
          (s_suppkey BIGINT, s_name STRING) USING hadro""")
        QueryDef.table(s, dir, "supplier").select("s_suppkey", "s_name")
          .createOrReplaceTempView("h53_src")
        s.sql("INSERT INTO graft_h53.db.suppliers SELECT * FROM h53_src")
        s.conf.set("spark.hadro.delete.mode", "dv")
        try s.sql("DELETE FROM graft_h53.db.suppliers WHERE s_suppkey % 5 = 0")
        finally s.conf.unset("spark.hadro.delete.mode")
        s.sql("""SELECT CAST(SUM(n_rows) AS BIGINT) AS physical_rows,
            CAST(SUM(n_dv_deletes) AS BIGINT) AS vectored,
            CAST(SUM(n_tombstones) AS BIGINT) AS tombstoned
          FROM graft_h53.db.suppliers.files""")
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS physical_rows,
          CAST(COUNT(*) FILTER (WHERE s_suppkey % 5 = 0) AS BIGINT) AS vectored,
          CAST(0 AS BIGINT) AS tombstoned
        FROM supplier""")),

    // ---------------------------------------------------------------- h54
    // ANALYZE TABLE: `CALL system.analyze` computes table-level column
    // statistics in one distributed pass (exact ndv here so the oracle
    // binds; HLL-approximate is the default 100 TB path) and publishes
    // them on the manifest, where the scan's SupportsReportStatistics
    // .columnStats hands them to the cost-based optimizer — StatsSpec
    // asserts the optimizer-visible side; the procedure's own output is
    // the oracle-checked surface here.
    QueryDef(
      "h54_analyze_stats",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h54"
        s.conf.set("spark.sql.catalog.graft_h54", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h54.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h54.db")
        s.sql("DROP TABLE IF EXISTS graft_h54.db.suppliers")
        s.sql("""CREATE TABLE graft_h54.db.suppliers
          (s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE)
          USING hadro""")
        QueryDef.table(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
          .createOrReplaceTempView("h54_src")
        s.sql("INSERT INTO graft_h54.db.suppliers SELECT * FROM h54_src")
        s.sql("CALL graft_h54.system.analyze('db.suppliers', true, 0)")
          .select(col("column").as("col_name"), col("ndv"), col("null_count"))
          .orderBy("col_name")
      },
      Some("""SELECT 's_suppkey' AS col_name,
            CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) AS ndv,
            CAST(COUNT(*) - COUNT(s_suppkey) AS BIGINT) AS null_count
          FROM supplier
        UNION ALL
        SELECT 's_name', COUNT(DISTINCT s_name),
            COUNT(*) - COUNT(s_name) FROM supplier
        UNION ALL
        SELECT 's_nationkey', COUNT(DISTINCT s_nationkey),
            COUNT(*) - COUNT(s_nationkey) FROM supplier
        UNION ALL
        SELECT 's_acctbal', COUNT(DISTINCT s_acctbal),
            COUNT(*) - COUNT(s_acctbal) FROM supplier
        ORDER BY col_name""")),

    // ---------------------------------------------------------------- h55
    // OFFSET pushdown (pagination): on a range-clustered collection the
    // scan's ordinal order IS the key order, so OFFSET m LIMIT n is the
    // deterministic page [m, m+n) — fully pushed (Spark deletes its Offset
    // operator; the scan plans past the skipped segments and the boundary
    // reader drops the residual). OffsetPushdownSpec pins the plan shape
    // and dv interaction; this binds the page content to a SQL oracle.
    QueryDef(
      "h55_offset_pushdown",
      (s, dir) => {
        val path = colPath(dir, "h55")
        val src = QueryDef.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        val c = graft.api.Collection.create(s, path, src, numSegments = 4)
        c.cluster(Seq("o_orderkey"), numSegments = 8)
        s.read.format("hadro").load(path)
          .select(col("o_orderkey"))
          .offset(500).limit(100)
      },
      Some("""SELECT o_orderkey FROM orders
        ORDER BY o_orderkey LIMIT 100 OFFSET 500""")),

    // ---------------------------------------------------------------- h56
    // SUM aggregate pushdown: exact per-segment integral sums recorded at
    // write (overflow-safe) answer a global SUM as a LocalTableScan — no
    // data file opened (plan asserted in AggPushdownSpec; double sums
    // stay on the scan path, FP order-dependence). At 100 TB a SUM over
    // the fact table becomes a manifest read.
    QueryDef(
      "h56_sum_pushdown",
      (s, dir) => {
        import s.implicits._
        Fixtures.buildOnce(dir, "h56") {
          Collection.create(s, colPath(dir, "h56"),
            table(s, dir, "lineitem")
              .select($"l_orderkey", $"l_partkey", $"l_linenumber"),
            numSegments = 4)
        }
        val c = Collection(s, colPath(dir, "h56"))
        c.scan().agg(
          sum($"l_orderkey").as("sum_okey"),
          sum($"l_partkey").as("sum_pkey"),
          sum($"l_linenumber").as("sum_line"),
          avg($"l_linenumber").as("avg_line"),
          count(lit(1)).as("n_rows"))
      },
      // avg replayed as exact-sum / count division (the same two-longs
      // double division both engines perform — bit-equal, no rounding)
      Some("""SELECT CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
          CAST(SUM(l_partkey) AS BIGINT) AS sum_pkey,
          CAST(SUM(l_linenumber) AS BIGINT) AS sum_line,
          CAST(SUM(l_linenumber) AS DOUBLE) / CAST(COUNT(l_linenumber) AS DOUBLE)
            AS avg_line,
          CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem""")),

    // ---------------------------------------------------------------- h57
    // Per-record zstd compression (TBLPROPERTIES('compress'='zstd'), fixed
    // at creation): payloads shrink behind a self-describing flag bit —
    // split points, key→offset index, and deletion-vector row indices all
    // stay exact, and every read path decompresses inside the frame
    // parser. The query proves an end-to-end SQL round-trip (plus a dv
    // DELETE over compressed segments) is byte-identical; the on-disk
    // shrink and offset-machinery exactness are spec-asserted
    // (CompressionSpec).
    QueryDef(
      "h57_zstd_roundtrip",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h57"
        s.conf.set("spark.sql.catalog.graft_h57", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h57.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h57.db")
        s.sql("DROP TABLE IF EXISTS graft_h57.db.docs")
        s.sql("""CREATE TABLE graft_h57.db.docs
          (doc_id BIGINT, text STRING, lang STRING, source STRING)
          USING hadro TBLPROPERTIES('compress'='zstd')""")
        QueryDef.table(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
          .createOrReplaceTempView("h57_src")
        s.sql("INSERT INTO graft_h57.db.docs SELECT * FROM h57_src")
        s.conf.set("spark.hadro.delete.mode", "dv")
        try s.sql("DELETE FROM graft_h57.db.docs WHERE doc_id % 7 = 3")
        finally s.conf.unset("spark.hadro.delete.mode")
        s.sql("""SELECT doc_id, text, lang, source FROM graft_h57.db.docs
          ORDER BY doc_id""")
      },
      Some("""SELECT doc_id, text, lang, source FROM documents
        WHERE NOT (doc_id % 7 = 3) ORDER BY doc_id""")),

    // ---------------------------------------------------------------- h58
    // INSERT OVERWRITE: SQL truncate-and-append in one statement — the
    // stale rows vanish atomically with the new commit (TRUNCATE
    // capability + append write), history records both versions.
    QueryDef(
      "h58_insert_overwrite",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h58"
        s.conf.set("spark.sql.catalog.graft_h58", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h58.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h58.db")
        s.sql("DROP TABLE IF EXISTS graft_h58.db.nations")
        s.sql("""CREATE TABLE graft_h58.db.nations
          (n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT) USING hadro""")
        QueryDef.table(s, dir, "nation")
          .select("n_nationkey", "n_name", "n_regionkey")
          .createOrReplaceTempView("h58_src")
        s.sql("INSERT INTO graft_h58.db.nations SELECT * FROM h58_src")
        // overwrite with the odd half only: the even rows must be gone
        s.sql("""INSERT OVERWRITE graft_h58.db.nations
          SELECT * FROM h58_src WHERE n_nationkey % 2 = 1""")
        s.sql("""SELECT n_nationkey, n_name, n_regionkey
          FROM graft_h58.db.nations ORDER BY n_nationkey""")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
        WHERE n_nationkey % 2 = 1 ORDER BY n_nationkey""")),

    // ---------------------------------------------------------------- h59
    // CTAS + RTAS: `CREATE TABLE ... AS SELECT` materializes a query
    // straight into a hadro table (schema inferred from the plan);
    // `REPLACE TABLE ... AS SELECT` swaps in a fresh table+history. The
    // final state after a CTAS-then-REPLACE chain binds to the oracle.
    QueryDef(
      "h59_ctas",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h59"
        s.conf.set("spark.sql.catalog.graft_h59", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h59.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h59.db")
        s.sql("DROP TABLE IF EXISTS graft_h59.db.top_parts")
        QueryDef.table(s, dir, "part").createOrReplaceTempView("h59_src")
        s.sql("""CREATE TABLE graft_h59.db.top_parts USING hadro AS
          SELECT p_partkey, p_name, p_size FROM h59_src WHERE p_size > 40""")
        s.sql("""REPLACE TABLE graft_h59.db.top_parts USING hadro AS
          SELECT p_partkey, p_name, p_size FROM h59_src WHERE p_size > 45""")
        s.sql("""SELECT p_partkey, p_name, p_size
          FROM graft_h59.db.top_parts ORDER BY p_partkey""")
      },
      Some("""SELECT p_partkey, p_name, p_size FROM part
        WHERE p_size > 45 ORDER BY p_partkey""")),

    // ---------------------------------------------------------------- h60
    // Named tags (Iceberg tag analog): `CALL system.create_tag` pins a
    // committed version by name; the pin exempts its manifest from every
    // retention sweep AND its files from physical GC, so `VERSION AS OF
    // 'release'` still plans after the very sequence that normally destroys
    // history — a row-level DELETE, a full compaction, and a vacuum. The
    // oracle is the pre-mutation content: the tag must read back the exact
    // snapshot it pinned. At 100 TB this is the "release snapshot" verb — a
    // one-metadata-write pin of the bytes a training run consumed.
    QueryDef(
      "h60_tag_travel",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h60"
        s.conf.set("spark.sql.catalog.graft_h60", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h60.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h60.db")
        s.sql("DROP TABLE IF EXISTS graft_h60.db.suppliers")
        s.sql("""CREATE TABLE graft_h60.db.suppliers
          (s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT) USING hadro""")
        QueryDef.table(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_nationkey")
          .createOrReplaceTempView("h60_src")
        s.sql("INSERT INTO graft_h60.db.suppliers SELECT * FROM h60_src")
        s.sql("CALL graft_h60.system.create_tag('db.suppliers', 'release', -1)")
        // history-destroying sequence the tag must survive
        s.sql("DELETE FROM graft_h60.db.suppliers WHERE s_suppkey % 2 = 0")
        s.sql("CALL graft_h60.system.compact('db.suppliers')")
        s.sql("CALL graft_h60.system.vacuum('db.suppliers')")
        s.sql("""SELECT s_suppkey, s_name, s_nationkey
          FROM graft_h60.db.suppliers VERSION AS OF 'release'
          ORDER BY s_suppkey""")
      },
      Some("""SELECT s_suppkey, s_name, s_nationkey FROM supplier
        ORDER BY s_suppkey""")),

    // ---------------------------------------------------------------- h61
    // Intra-segment block skipping (Parquet row-group analog): one SORTED
    // oversized segment with a tiny split cadence records per-block
    // min/max in the manifest, and a selective range filter plans only the
    // split ranges whose stats can match (SplitSpec asserts the partition
    // count; here the oracle proves the pruned scan loses nothing). At
    // 100 TB this is the difference between scanning a 50 GB clustered
    // segment and scanning the two 64 MB blocks that can hold the band.
    QueryDef(
      "h61_block_skipping",
      (s, dir) => {
        import s.implicits._
        val path = colPath(dir, "h61")
        Fixtures.buildOnce(dir, "h61") {
          val src = table(s, dir, "orders")
            .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          Collection.create(s, path,
            src.orderBy("o_orderkey").coalesce(1), numSegments = 0)
          // rebuild the single segment with a small split cadence
          Collection(s, path).scan().orderBy("o_orderkey").coalesce(1)
            .write.format("hadro").mode("overwrite")
            .option("hadro.splitBytes", 64 * 1024).save(path)
        }
        val c = Collection(s, path)
        c.scan().filter($"o_orderkey" between (1000L, 2000L))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_orderkey BETWEEN 1000 AND 2000 ORDER BY o_orderkey""")),

    // ---------------------------------------------------------------- h62
    // CHECK constraints: declared at CREATE (TBLPROPERTIES 'constraint.*'),
    // added retroactively via ALTER SET (analyzer-validated + one scan
    // proving existing rows comply), enforced per row in every writer task
    // (SQL semantics: NULL passes, FALSE fails the write before anything
    // commits — violating inserts and the retro-check are spec-covered in
    // CatalogSpec). The oracle proves constrained ingest is lossless.
    QueryDef(
      "h62_check_constraint",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h62"
        s.conf.set("spark.sql.catalog.graft_h62", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h62.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h62.db")
        s.sql("DROP TABLE IF EXISTS graft_h62.db.parts")
        s.sql("""CREATE TABLE graft_h62.db.parts
          (p_partkey BIGINT, p_name STRING, p_size INT) USING hadro
          TBLPROPERTIES ('constraint.size_pos' = 'p_size > 0')""")
        QueryDef.table(s, dir, "part")
          .select("p_partkey", "p_name", "p_size")
          .createOrReplaceTempView("h62_src")
        s.sql("INSERT INTO graft_h62.db.parts SELECT * FROM h62_src")
        s.sql("""ALTER TABLE graft_h62.db.parts
          SET TBLPROPERTIES ('constraint.key_pos' = 'p_partkey >= 0')""")
        s.sql("INSERT INTO graft_h62.db.parts VALUES (9999991, 'late-row', 7)")
        s.sql("""SELECT p_partkey, p_name, p_size FROM graft_h62.db.parts
          ORDER BY p_partkey""")
      },
      Some("""SELECT p_partkey, p_name, p_size FROM part
        UNION ALL SELECT 9999991, 'late-row', 7
        ORDER BY p_partkey""")),

    // ---------------------------------------------------------------- h63
    // WRITE-AUDIT-PUBLISH: the staging pattern that keeps bad batches out
    // of prod at 100 TB — zero-copy clone branch, pipeline writes + audits
    // run against the branch, `CALL system.publish` atomically swaps the
    // target's contents in ONE commit (hard-linked segments, history
    // rollback-able, generation bump). The oracle is the audited staged
    // state: publish must surface exactly what was audited, nothing else.
    QueryDef(
      "h63_wap_publish",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h63"
        s.conf.set("spark.sql.catalog.graft_h63", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h63.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h63.db")
        s.sql("DROP TABLE IF EXISTS graft_h63.db.prod")
        s.sql("DROP TABLE IF EXISTS graft_h63.db.stage")
        s.sql("""CREATE TABLE graft_h63.db.prod
          (n_nationkey INT, n_name STRING, n_regionkey INT) USING hadro""")
        QueryDef.table(s, dir, "nation")
          .select("n_nationkey", "n_name", "n_regionkey")
          .createOrReplaceTempView("h63_src")
        s.sql("INSERT INTO graft_h63.db.prod SELECT * FROM h63_src")
        s.sql("CALL graft_h63.system.clone('db.prod', 'db.stage')")
        s.sql("DELETE FROM graft_h63.db.stage WHERE n_regionkey = 0")
        s.sql("""INSERT INTO graft_h63.db.stage
          SELECT n_nationkey + 100, upper(n_name), n_regionkey FROM h63_src
          WHERE n_regionkey = 1""")
        s.sql("CALL graft_h63.system.publish('db.stage', 'db.prod')")
        s.sql("""SELECT n_nationkey, n_name, n_regionkey FROM graft_h63.db.prod
          ORDER BY n_nationkey""")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
          WHERE n_regionkey <> 0
        UNION ALL
        SELECT n_nationkey + 100, upper(n_name), n_regionkey FROM nation
          WHERE n_regionkey = 1
        ORDER BY n_nationkey""")),

    // ---------------------------------------------------------------- h64
    // Dictionary-trained zstd (`compress = zstd-dict`): each segment
    // trains a zstd dictionary on its first ~64 KB of payloads (plain-zstd
    // meanwhile — flag-bit mixing keeps every record self-describing) and
    // compresses the rest against it, the Parquet-dictionary-page shape
    // that wins exactly where lone frames lose: small records. The oracle
    // proves dict-compressed storage is lossless through a delete +
    // compact cycle; CompressionSpec asserts the ratio beats plain zstd.
    QueryDef(
      "h64_zstd_dict_roundtrip",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h64"
        s.conf.set("spark.sql.catalog.graft_h64", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h64.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h64.db")
        s.sql("DROP TABLE IF EXISTS graft_h64.db.docs")
        s.sql("""CREATE TABLE graft_h64.db.docs
          (doc_id BIGINT, text STRING, lang STRING, source STRING)
          USING hadro TBLPROPERTIES('compress'='zstd-dict')""")
        QueryDef.table(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
          .createOrReplaceTempView("h64_src")
        s.sql("INSERT INTO graft_h64.db.docs SELECT * FROM h64_src")
        s.sql("DELETE FROM graft_h64.db.docs WHERE doc_id % 9 = 4")
        s.sql("CALL graft_h64.system.compact('db.docs')")
        s.sql("""SELECT doc_id, text, lang, source FROM graft_h64.db.docs
          ORDER BY doc_id""")
      },
      Some("""SELECT doc_id, text, lang, source FROM documents
        WHERE NOT (doc_id % 9 = 4) ORDER BY doc_id""")),

    // ---------------------------------------------------------------- h65
    // Declarative time partitioning: PARTITIONED BY (days(ts)) routes
    // every write to one segment per day (the catalog INSERT clusters by
    // the transform — a month of events lands in ~30 day-segments, not
    // tasks x 30), and the per-segment ts min/max stats become
    // one-day tight, so the 3-day range scan below plans only 3 of ~30
    // segments through the existing stats skipper (PartitionSpec asserts
    // the hadroSegmentsPruned metric; this query proves the answers).
    // The 100 TB event-log layout: partition pruning IS stats pruning
    // once the layout guarantees value-disjoint segments.
    QueryDef(
      "h65_days_partition_prune",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h65"
        s.conf.set("spark.sql.catalog.graft_h65", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h65.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h65.db")
        s.sql("DROP TABLE IF EXISTS graft_h65.db.events")
        s.sql("""CREATE TABLE graft_h65.db.events
          (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,
           value DOUBLE)
          USING hadro PARTITIONED BY (days(ts))""")
        QueryDef.table(s, dir, "events")
          .select(col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"),
            col("user_id"), col("event_type"), col("value"))
          .createOrReplaceTempView("h65_src")
        s.sql("INSERT INTO graft_h65.db.events SELECT * FROM h65_src")
        s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
          FROM graft_h65.db.events
          WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
            AND ts < TIMESTAMP '2024-01-13 00:00:00'
          GROUP BY event_type ORDER BY event_type""")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts < TIMESTAMP '2024-01-13 00:00:00'
        GROUP BY event_type ORDER BY event_type"""))
    ,

    // ---------------------------------------------------------------- h66
    // Partition retention: CALL system.drop_partitions expires whole
    // value-partitions (here: every event day before 2024-01-15) as ONE
    // metadata-only manifest commit — zero rows rewritten, files reclaimed
    // by the normal deferred GC, time travel across the drop intact
    // (PartitionSpec). The 100 TB answer to "keep 90 days of events": a
    // DELETE would CoW or dv-mark terabytes the days(ts) layout already
    // isolates. Equivalence with the DELETE semantics is what the oracle
    // checks.
    QueryDef(
      "h66_partition_retention",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h66"
        s.conf.set("spark.sql.catalog.graft_h66", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h66.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h66.db")
        s.sql("DROP TABLE IF EXISTS graft_h66.db.events")
        s.sql("""CREATE TABLE graft_h66.db.events
          (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,
           value DOUBLE)
          USING hadro PARTITIONED BY (days(ts))""")
        QueryDef.table(s, dir, "events")
          .select(col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"),
            col("user_id"), col("event_type"), col("value"))
          .createOrReplaceTempView("h66_src")
        s.sql("INSERT INTO graft_h66.db.events SELECT * FROM h66_src")
        val cutoff = java.time.LocalDate.of(2024, 1, 15).toEpochDay
        s.sql(s"CALL graft_h66.system.drop_partitions('db.events', '$cutoff')")
        s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(MIN(event_id) AS BIGINT) AS min_id,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
          FROM graft_h66.db.events
          GROUP BY event_type ORDER BY event_type""")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(MIN(event_id) AS BIGINT) AS min_id,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY event_type ORDER BY event_type"""))
    ,

    // ---------------------------------------------------------------- h67
    // Identity-partitioned storage-partitioned join: two collections
    // PARTITIONED BY (nationkey) join on it with ZERO exchanges — each
    // value-partition is provably single-valued via its exact min==max
    // segment stats, so both scans report identity(nationkey)
    // KeyGroupedPartitioning and Spark aligns them partition-wise
    // (PartitionSpec asserts the exchange-free plan; this query proves
    // the answers). The value-partitioned analog of the bucket SPJ path
    // (h31/a09): the 100 TB tenant/region fact-fact join with no shuffle.
    QueryDef(
      "h67_identity_spj",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h67"
        s.conf.set("spark.sql.catalog.graft_h67", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h67.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h67.db")
        Fixtures.buildOnce(dir, "h67") {
          s.sql("DROP TABLE IF EXISTS graft_h67.db.cust")
          s.sql("DROP TABLE IF EXISTS graft_h67.db.supp")
          s.sql("""CREATE TABLE graft_h67.db.cust
            (c_custkey BIGINT, c_nationkey INT, c_acctbal DOUBLE)
            USING hadro PARTITIONED BY (c_nationkey)""")
          s.sql("""CREATE TABLE graft_h67.db.supp
            (s_suppkey BIGINT, s_nationkey INT, s_acctbal DOUBLE)
            USING hadro PARTITIONED BY (s_nationkey)""")
          QueryDef.table(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
            .createOrReplaceTempView("h67_cust")
          QueryDef.table(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
            .createOrReplaceTempView("h67_supp")
          s.sql("INSERT INTO graft_h67.db.cust SELECT * FROM h67_cust")
          s.sql("INSERT INTO graft_h67.db.supp SELECT * FROM h67_supp")
        }
        val savedSpj = try Some(s.conf.get("spark.sql.sources.v2.bucketing.enabled"))
          catch { case _: Exception => None }
        val savedBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          s.sql("""SELECT c_nationkey AS nationkey,
              CAST(COUNT(*) AS BIGINT) AS n_pairs,
              CAST(SUM(CAST(c_acctbal + s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                AS sum_bal
            FROM graft_h67.db.cust JOIN graft_h67.db.supp
              ON c_nationkey = s_nationkey
            GROUP BY c_nationkey ORDER BY nationkey""")
            // EAGER checkpoint: the join must plan exchange-free while the
            // scoped confs are live
            .localCheckpoint(true)
        } finally {
          savedSpj match {
            case Some(v) => s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
            case None => s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
          }
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
        }
      },
      Some("""SELECT c_nationkey AS nationkey,
          CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(SUM(CAST(c_acctbal + s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
            AS sum_bal
        FROM customer JOIN supplier ON c_nationkey = s_nationkey
        GROUP BY c_nationkey ORDER BY nationkey"""))
    ,

    // ---------------------------------------------------------------- h69
    // Partition-scoped compaction: three interleaved INSERTs fragment a
    // days(ts)-partitioned events table; CALL compact_partitions rewrites
    // each fragmented day as ONE atomic replace commit (one output
    // segment per day, untouched files carried by reference — never
    // compact()'s rewrite-the-world), and the data reads back lossless.
    // PartitionSpec asserts the layout/reference mechanics; the oracle
    // proves the contents.
    QueryDef(
      "h69_partition_scoped_compaction",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h69"
        s.conf.set("spark.sql.catalog.graft_h69", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h69.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h69.db")
        // mutating lifecycle fixture: the FRAGMENTED (pre-compaction)
        // table is built once in a template catalog; each rep zero-copy
        // clones it in and re-pays only the compaction under test
        Fixtures.restoreFromTemplate(s, dir, "h69_events",
          s"/tmp/graft_catalogs/${tag}_h69_template/db/events",
          s"$wh/db/events") { _ =>
          val twh = s"/tmp/graft_catalogs/${tag}_h69_template"
          s.conf.set("spark.sql.catalog.graft_h69t",
            classOf[graft.spark.HadroCatalog].getName)
          s.conf.set("spark.sql.catalog.graft_h69t.warehouse", twh)
          s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h69t.db")
          s.sql("""CREATE TABLE graft_h69t.db.events
            (event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE)
            USING hadro PARTITIONED BY (days(ts))""")
          QueryDef.table(s, dir, "events")
            .select(col("event_id"),
              timestamp_micros(expr("ts div 1000")).as("ts"),
              col("event_type"), col("value"))
            .createOrReplaceTempView("h69_src")
          // three interleaved batches fragment every day across commits
          (0 until 3).foreach { b =>
            s.sql(s"INSERT INTO graft_h69t.db.events SELECT * FROM h69_src " +
              s"WHERE event_id % 3 = $b")
          }
        }
        s.sql("CALL graft_h69.system.compact_partitions('db.events', '')")
        s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(MIN(event_id) AS BIGINT) AS min_id,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
          FROM graft_h69.db.events
          GROUP BY event_type ORDER BY event_type""")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(MIN(event_id) AS BIGINT) AS min_id,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        FROM events
        GROUP BY event_type ORDER BY event_type"""))
    ,

    // ---------------------------------------------------------------- h68
    // Streaming sink INTO a days-partitioned table: micro-batch epochs
    // flow through the same per-value writer routing the batch path uses
    // (StreamSinkSpec asserts the tagged layout), so a tailed event
    // stream lands partition-correct with no downstream re-clustering —
    // and the range scan below prunes the streamed segments exactly like
    // batch-written ones. This is the 100 TB ingestion shape: stream in,
    // day-partitioned at rest, retention via drop_partitions (h66).
    QueryDef(
      "h68_partitioned_stream_sink",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h68"
        s.conf.set("spark.sql.catalog.graft_h68", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h68.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h68.db")
        s.sql("DROP TABLE IF EXISTS graft_h68.db.events")
        s.sql("""CREATE TABLE graft_h68.db.events
          (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,
           value DOUBLE)
          USING hadro PARTITIONED BY (days(ts))""")
        // stage the events parquet as a streaming-source directory
        val stageDir = java.nio.file.Paths.get(s"/tmp/graft_stream/${tag}_h68")
        java.nio.file.Files.createDirectories(stageDir)
        val link = stageDir.resolve("events.parquet")
        if (!java.nio.file.Files.exists(link))
          java.nio.file.Files.createSymbolicLink(
            link, java.nio.file.Paths.get(s"$dir/events.parquet"))
        val raw = StructType(Seq(
          StructField("event_id", LongType), StructField("ts", TimestampNTZType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
        val stream = s.readStream.schema(raw).parquet(stageDir.toString)
          .select(col("event_id"),
            col("ts").cast(TimestampType).as("ts"),
            col("user_id"), col("event_type"), col("value"))
        val q = stream.writeStream.format("hadro")
          .option("checkpointLocation", s"/tmp/graft_stream/${tag}_h68_ckpt_${System.nanoTime()}")
          .start(s"$wh/db/events")
        q.processAllAvailable()
        q.stop()
        s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
          FROM graft_h68.db.events
          WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
            AND ts < TIMESTAMP '2024-01-24 00:00:00'
          GROUP BY event_type ORDER BY event_type""")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
          AND ts < TIMESTAMP '2024-01-24 00:00:00'
        GROUP BY event_type ORDER BY event_type"""))
    ,

    // ---------------------------------------------------------------- h70
    // Dynamic partition overwrite: INSERT OVERWRITE under
    // partitionOverwriteMode=dynamic atomically replaces ONLY the
    // day-partitions present in the incoming batch (here: two days,
    // reprocessed with doubled values) — every other day is carried by
    // reference, byte-identical (PartitionSpec asserts the untouched
    // files). The daily-reprocess shape at 100 TB: re-deriving one bad
    // day costs O(that day), never a table rewrite, and a concurrent
    // append into a replaced day conflicts instead of being dropped.
    QueryDef(
      "h70_dynamic_overwrite",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h70"
        s.conf.set("spark.sql.catalog.graft_h70", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h70.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h70.db")
        s.sql("DROP TABLE IF EXISTS graft_h70.db.events")
        s.sql("""CREATE TABLE graft_h70.db.events
          (event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE)
          USING hadro PARTITIONED BY (days(ts))""")
        QueryDef.table(s, dir, "events")
          .select(col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"),
            col("event_type"), col("value"))
          .createOrReplaceTempView("h70_src")
        s.sql("INSERT INTO graft_h70.db.events SELECT * FROM h70_src")
        // reprocess two days with corrected (doubled) values
        val saved = s.conf.get("spark.sql.sources.partitionOverwriteMode")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try s.sql("""INSERT OVERWRITE graft_h70.db.events
            SELECT event_id, ts, event_type, value * 2 FROM h70_src
            WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
              AND ts < TIMESTAMP '2024-01-12 00:00:00'""")
        finally s.conf.set("spark.sql.sources.partitionOverwriteMode", saved)
        s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
          FROM graft_h70.db.events
          GROUP BY event_type ORDER BY event_type""")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(CASE
            WHEN ts >= TIMESTAMP '2024-01-10 00:00:00'
             AND ts < TIMESTAMP '2024-01-12 00:00:00' THEN value * 2
            ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        FROM events
        GROUP BY event_type ORDER BY event_type"""))
    ,

    // ---------------------------------------------------------------- h71
    // days()-transform storage-partitioned join: two days(ts)-partitioned
    // tables join on the raw ts with ZERO exchanges — each planned
    // segment is provably single-valued under the transform via its
    // exact stats bounds (one day ordinal), so both scans report
    // days(ts) KeyGroupedPartitioning and Spark aligns the day groups
    // (PartitionSpec asserts the exchange-free plan; this query proves
    // the answers). Generalizes the identity SPJ (h67) to time
    // transforms: the 100 TB daily fact-fact join with no shuffle on
    // either input.
    QueryDef(
      "h71_days_transform_spj",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h71"
        s.conf.set("spark.sql.catalog.graft_h71", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h71.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h71.db")
        Fixtures.buildOnce(dir, "h71") {
          s.sql("DROP TABLE IF EXISTS graft_h71.db.facts")
          s.sql("DROP TABLE IF EXISTS graft_h71.db.labels")
          s.sql("""CREATE TABLE graft_h71.db.facts
            (event_id BIGINT, ts TIMESTAMP, value DOUBLE)
            USING hadro PARTITIONED BY (days(ts))""")
          s.sql("""CREATE TABLE graft_h71.db.labels
            (ts TIMESTAMP, event_type STRING)
            USING hadro PARTITIONED BY (days(ts))""")
          QueryDef.table(s, dir, "events")
            .select(col("event_id"),
              timestamp_micros(expr("ts div 1000")).as("ts"),
              col("event_type"), col("value"))
            .createOrReplaceTempView("h71_src")
          s.sql("INSERT INTO graft_h71.db.facts SELECT event_id, ts, value FROM h71_src")
          s.sql("INSERT INTO graft_h71.db.labels SELECT ts, event_type FROM h71_src")
        }
        val savedSpj = try Some(s.conf.get("spark.sql.sources.v2.bucketing.enabled"))
          catch { case _: Exception => None }
        val savedBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
            FROM graft_h71.db.facts f JOIN graft_h71.db.labels l
              ON f.ts = l.ts
            GROUP BY event_type ORDER BY event_type""")
            // EAGER checkpoint: the join must plan exchange-free while the
            // scoped confs are live
            .localCheckpoint(true)
        } finally {
          savedSpj match {
            case Some(v) => s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
            case None => s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
          }
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
        }
      },
      Some("""WITH src AS (SELECT event_id, ts, event_type, value FROM events)
        SELECT l.event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(SUM(CAST(f.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        FROM src f JOIN src l ON f.ts = l.ts
        GROUP BY l.event_type ORDER BY l.event_type"""))
    ,

    // ---------------------------------------------------------------- h72
    // Partition-spec evolution: the table starts days(ts)-partitioned,
    // is respec'd to hours(ts) mid-load (CALL set_partition_spec —
    // metadata-only, forward-only), and the second half of the data
    // routes one-segment-per-hour while the first half keeps its day
    // tags. Scans spanning the respec boundary prune both vintages by
    // the same exact stats rule (PartitionSpec asserts the layout and
    // retention mechanics); the oracle proves the combined contents.
    // The month-two shape at 100 TB: data rates outgrow the original
    // spec and the layout must follow without rewriting history.
    QueryDef(
      "h72_partition_respec",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h72"
        s.conf.set("spark.sql.catalog.graft_h72", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h72.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h72.db")
        s.sql("DROP TABLE IF EXISTS graft_h72.db.events")
        s.sql("""CREATE TABLE graft_h72.db.events
          (event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE)
          USING hadro PARTITIONED BY (days(ts))""")
        QueryDef.table(s, dir, "events")
          .select(col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"),
            col("event_type"), col("value"))
          .createOrReplaceTempView("h72_src")
        s.sql("""INSERT INTO graft_h72.db.events SELECT * FROM h72_src
          WHERE ts < TIMESTAMP '2024-01-15 00:00:00'""")
        s.sql("CALL graft_h72.system.set_partition_spec('db.events', 'hours')")
        // two post-respec days: ~48 hour-segments, the finer steady state
        s.sql("""INSERT INTO graft_h72.db.events SELECT * FROM h72_src
          WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
            AND ts < TIMESTAMP '2024-01-17 00:00:00'""")
        s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
          FROM graft_h72.db.events
          WHERE ts >= TIMESTAMP '2024-01-12 00:00:00'
            AND ts < TIMESTAMP '2024-01-17 00:00:00'
          GROUP BY event_type ORDER BY event_type""")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-12 00:00:00'
          AND ts < TIMESTAMP '2024-01-17 00:00:00'
        GROUP BY event_type ORDER BY event_type"""))
    ,

    // ---------------------------------------------------------------- h73
    // REPLACE WHERE (predicate-scoped atomic overwrite,
    // `df.writeTo(t).overwrite(cond)`): delete every row in a
    // boundary-aligned time region and append the corrected batch in ONE
    // commit. Unlike dynamic overwrite (h70) the region is replaced even
    // where the new batch is thinner — here the two reprocessed days
    // keep only even event_ids (value tripled), the canonical
    // "recompute a bad day from a filtered upstream" shape. Whole-segment
    // replacement is proven from manifest min/max bounds (see
    // HadroReplaceWhere): manifest-only planning, O(new batch) write,
    // replaced terabytes dropped by reference.
    QueryDef(
      "h73_replace_where",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h73"
        s.conf.set("spark.sql.catalog.graft_h73", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h73.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h73.db")
        s.sql("DROP TABLE IF EXISTS graft_h73.db.events")
        s.sql("""CREATE TABLE graft_h73.db.events
          (event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE)
          USING hadro PARTITIONED BY (days(ts))""")
        QueryDef.table(s, dir, "events")
          .select(col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"),
            col("event_type"), col("value"))
          .createOrReplaceTempView("h73_src")
        s.sql("INSERT INTO graft_h73.db.events SELECT * FROM h73_src")
        s.sql("""SELECT event_id, ts, event_type, value * 3 AS value
            FROM h73_src
            WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
              AND ts < TIMESTAMP '2024-01-12 00:00:00'
              AND event_id % 2 = 0""")
          .writeTo("graft_h73.db.events")
          .overwrite(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp")
            && col("ts") < lit("2024-01-12 00:00:00").cast("timestamp"))
        s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
          FROM graft_h73.db.events
          GROUP BY event_type ORDER BY event_type""")
      },
      Some("""WITH replaced AS (
          SELECT event_type, value FROM events
          WHERE ts < TIMESTAMP '2024-01-10 00:00:00'
             OR ts >= TIMESTAMP '2024-01-12 00:00:00'
          UNION ALL
          SELECT event_type, value * 3 AS value FROM events
          WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
            AND ts < TIMESTAMP '2024-01-12 00:00:00'
            AND event_id % 2 = 0)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        FROM replaced GROUP BY event_type ORDER BY event_type"""))
    ,

    // ---------------------------------------------------------------- h74
    // Batch changefeed window (`hadro.changesStart`): an incremental
    // batch consumer reads ONLY the records committed after the version
    // it last processed — planned from the manifest ordinal floor, so at
    // 100 TB a nightly downstream job reads the night's segments, never
    // the table. The append-shaped-window proof (same generation, no
    // drops, no dv drift) runs at plan time; here the window is the
    // second half of the log.
    QueryDef(
      "h74_batch_changes",
      (s, dir) => {
        val path = colPath(dir, "h74")
        val src = QueryDef.table(s, dir, "events")
          .select(col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"),
            col("event_type"), col("value"))
        Collection.create(s, path,
          src.filter(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp")))
        val v1 = Collection(s, path).version
        Collection(s, path).append(
          src.filter(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp")))
        s.read.format("hadro")
          .option("hadro.changesStart", v1.toString).load(path)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY event_type ORDER BY event_type"""))
    ,

    // ---------------------------------------------------------------- h75
    // `t.partitions` metadata table: the per-partition physical inventory
    // (segment count, live rows, bytes, ordinal span) straight from
    // manifest JSON — the numbers behind a drop_partitions / overwrite /
    // compact_partitions decision, at metadata scale (no data read). The
    // oracle replays the day-ordinal row counts from the raw events.
    QueryDef(
      "h75_partitions_metadata",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h75"
        s.conf.set("spark.sql.catalog.graft_h75", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h75.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h75.db")
        s.sql("DROP TABLE IF EXISTS graft_h75.db.events")
        s.sql("""CREATE TABLE graft_h75.db.events
          (event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE)
          USING hadro PARTITIONED BY (days(ts))""")
        QueryDef.table(s, dir, "events")
          .select(col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"),
            col("event_type"), col("value"))
          .createOrReplaceTempView("h75_src")
        s.sql("INSERT INTO graft_h75.db.events SELECT * FROM h75_src")
        s.sql("""SELECT CAST(partition AS BIGINT) AS day_ord, n_rows
          FROM graft_h75.db.events.partitions ORDER BY day_ord""")
      },
      Some("""SELECT CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) AS day_ord,
          CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY 1 ORDER BY 1"""))
    ,

    // ---------------------------------------------------------------- h76
    // Schema merge on write (`hadro.mergeSchema=true`): a pipeline whose
    // upstream grew a column keeps flowing — unseen fields are ADDED
    // (nullable, appended after the stored layout, addColumn semantics)
    // before validation, old segments null-fill via the per-segment
    // nFields machinery, and type changes to EXISTING columns still fail
    // fast. Here the first half of the log predates the `value` column;
    // the second half merges it in, and one scan reads both vintages.
    QueryDef(
      "h76_merge_schema",
      (s, dir) => {
        val path = colPath(dir, "h76")
        val src = QueryDef.table(s, dir, "events")
          .select(col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"),
            col("event_type"), col("value"))
        Collection.create(s, path,
          src.filter(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
            .drop("value"))
        src.filter(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp"))
          .write.format("hadro").mode("append")
          .option("hadro.mergeSchema", "true").save(path)
        s.read.format("hadro").load(path)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
            THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_v
        FROM events GROUP BY event_type ORDER BY event_type"""))
    ,

    // ---------------------------------------------------------------- h77
    // Row-level REPLACE WHERE (`spark.hadro.overwrite.mode=rowlevel`):
    // the region is deliberately UNALIGNED to the day layout (noon to
    // noon), so both boundary days straddle — their matching rows are
    // deletion-vectored in the SAME atomic commit that appends the
    // corrected batch; whole-day inside segments (none here) would drop
    // by reference. Makes predicate-scoped overwrite exact for arbitrary
    // one-column regions: O(matched rows) sidecar bytes, never a segment
    // rewrite, time travel intact.
    QueryDef(
      "h77_replace_where_rowlevel",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h77"
        s.conf.set("spark.sql.catalog.graft_h77", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h77.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h77.db")
        s.sql("DROP TABLE IF EXISTS graft_h77.db.events")
        s.sql("""CREATE TABLE graft_h77.db.events
          (event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE)
          USING hadro PARTITIONED BY (days(ts))""")
        QueryDef.table(s, dir, "events")
          .select(col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"),
            col("event_type"), col("value"))
          .createOrReplaceTempView("h77_src")
        s.sql("INSERT INTO graft_h77.db.events SELECT * FROM h77_src")
        s.conf.set("spark.hadro.overwrite.mode", "rowlevel")
        try s.sql("""SELECT event_id, ts, event_type, value * 5 AS value
            FROM h77_src
            WHERE ts >= TIMESTAMP '2024-01-10 12:00:00'
              AND ts < TIMESTAMP '2024-01-11 12:00:00'
              AND event_id % 3 = 0""")
          .writeTo("graft_h77.db.events")
          .overwrite(col("ts") >= lit("2024-01-10 12:00:00").cast("timestamp")
            && col("ts") < lit("2024-01-11 12:00:00").cast("timestamp"))
        finally s.conf.unset("spark.hadro.overwrite.mode")
        s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
          FROM graft_h77.db.events
          GROUP BY event_type ORDER BY event_type""")
      },
      Some("""WITH replaced AS (
          SELECT event_type, value FROM events
          WHERE ts < TIMESTAMP '2024-01-10 12:00:00'
             OR ts >= TIMESTAMP '2024-01-11 12:00:00'
          UNION ALL
          SELECT event_type, value * 5 AS value FROM events
          WHERE ts >= TIMESTAMP '2024-01-10 12:00:00'
            AND ts < TIMESTAMP '2024-01-11 12:00:00'
            AND event_id % 3 = 0)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        FROM replaced GROUP BY event_type ORDER BY event_type"""))
    ,

    // ---------------------------------------------------------------- h78
    // Multi-column REPLACE WHERE region: "reprocess one event type for a
    // day window" (`event_type = 'click' AND D1 <= ts < D2`) — the region
    // is an AND tree over TWO columns, so no day segment can prove whole-
    // segment membership (each day mixes event types): every planned day
    // straddles and rowlevel mode deletion-vectors exactly the matching
    // rows; days outside the window classify DISJOINT on the ts leaf
    // alone and are never scanned. At 100 TB: O(window days) segment
    // scans + O(matched rows) sidecar bytes, untouched days by reference.
    QueryDef(
      "h78_replace_where_multicol",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h78"
        s.conf.set("spark.sql.catalog.graft_h78", classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h78.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h78.db")
        s.sql("DROP TABLE IF EXISTS graft_h78.db.events")
        s.sql("""CREATE TABLE graft_h78.db.events
          (event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE)
          USING hadro PARTITIONED BY (days(ts))""")
        QueryDef.table(s, dir, "events")
          .select(col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"),
            col("event_type"), col("value"))
          .createOrReplaceTempView("h78_src")
        s.sql("INSERT INTO graft_h78.db.events SELECT * FROM h78_src")
        s.conf.set("spark.hadro.overwrite.mode", "rowlevel")
        try s.sql("""SELECT event_id, ts, event_type, value * 3 AS value
            FROM h78_src
            WHERE event_type = 'click'
              AND ts >= TIMESTAMP '2024-01-08 00:00:00'
              AND ts < TIMESTAMP '2024-01-12 00:00:00'
              AND event_id % 2 = 0""")
          .writeTo("graft_h78.db.events")
          .overwrite(col("event_type") === lit("click")
            && col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp")
            && col("ts") < lit("2024-01-12 00:00:00").cast("timestamp"))
        finally s.conf.unset("spark.hadro.overwrite.mode")
        s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
          FROM graft_h78.db.events
          GROUP BY event_type ORDER BY event_type""")
      },
      Some("""WITH replaced AS (
          SELECT event_type, value FROM events
          WHERE NOT (event_type = 'click'
            AND ts >= TIMESTAMP '2024-01-08 00:00:00'
            AND ts < TIMESTAMP '2024-01-12 00:00:00')
          UNION ALL
          SELECT event_type, value * 3 AS value FROM events
          WHERE event_type = 'click'
            AND ts >= TIMESTAMP '2024-01-08 00:00:00'
            AND ts < TIMESTAMP '2024-01-12 00:00:00'
            AND event_id % 2 = 0)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        FROM replaced GROUP BY event_type ORDER BY event_type"""))
    ,

    // ---------------------------------------------------------------- h79
    // Auto-compaction (`hadro.autoCompact`, Delta autoCompact shape): 8
    // tiny appends trip the minSegments gate mid-stream — small segments
    // pack through compactSmall's atomic replace bins INSIDE the write
    // commit path, and the read back is byte-equal to the union of the
    // appends. At 100 TB this bounds the small-file count of drip
    // ingestion without an external scheduler; the minSegments gate
    // bounds write amplification.
    QueryDef(
      "h79_auto_compact",
      (s, dir) => {
        val p = colPath(dir, "h79")
        val src = table(s, dir, "region")
        (0 until 8).foreach { i =>
          src.withColumn("r_regionkey", col("r_regionkey") + lit(i * 100L))
            .coalesce(1)
            .write.format("hadro").mode(if (i == 0) "overwrite" else "append")
            .option("hadro.autoCompact", (1L << 20).toString)
            .option("hadro.autoCompact.minSegments", "4")
            .save(p)
        }
        val segs = graft.meta.CollectionMeta
          .currentManifest(java.nio.file.Paths.get(p)).segments.length
        require(segs < 8, s"auto-compact must have packed, got $segs segments")
        s.read.format("hadro").load(p)
          .select(col("r_regionkey"), col("r_name"))
          .orderBy("r_regionkey")
      },
      Some("""SELECT r_regionkey + i * 100 AS r_regionkey, r_name
        FROM region, (SELECT unnest(range(8)) AS i)
        ORDER BY r_regionkey"""))
    ,

    // ---------------------------------------------------------------- h80
    // Deletion-vector PURGE (`REORG TABLE ... APPLY (PURGE)` shape): h46's
    // DV delete leaves every affected segment carrying a bitmap sidecar —
    // O(deleted rows) at delete time, but each subsequent scan pays the
    // bitmap probe and the dead bytes stay on disk forever. CALL
    // system.purge_deletes rewrites ONLY the vectored segments (surgical
    // per-segment replace commits — untouched segments carried by
    // reference), materializing the deletes and dropping the sidecars; at
    // 100 TB this is the weekly reclaim job after a GDPR-delete wave,
    // never compact()'s rewrite-the-world. The query asserts the manifest
    // really held vectors before and none after, then proves the purged
    // table still answers exactly (oracle = rows the DELETE kept).
    QueryDef(
      "h80_purge_deletes",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_purge/$tag"
        s.conf.set("spark.sql.catalog.graft_h80",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h80.warehouse", wh)
        // mutating lifecycle fixture: restore from a built-once template
        // via zero-copy clone — each rep re-pays the DELETE + purge under
        // test, never the 8-segment ingest (template shared with h46)
        Fixtures.restoreFromTemplate(s, dir, "li8",
          s"/tmp/graft_li8/${tag}_template", s"$wh/db/li") { tpl =>
          table(s, dir, "lineitem").repartitionByRange(8, $"l_orderkey")
            .write.format("hadro").mode("overwrite").save(tpl)
        }
        s.conf.set("spark.hadro.delete.mode", "dv")
        try s.sql("DELETE FROM graft_h80.db.li WHERE l_quantity >= 30.0")
        finally s.conf.unset("spark.hadro.delete.mode")
        val liDir = java.nio.file.Paths.get(s"$wh/db/li")
        val before = graft.meta.CollectionMeta.currentManifest(liDir)
        require(before.segments.exists(_.deleteVector.isDefined),
          "h80 precondition: the DV delete must leave bitmap sidecars")
        val purged = s.sql(
          "CALL graft_h80.system.purge_deletes('db.li')")
          .collect()(0).getInt(0)
        val after = graft.meta.CollectionMeta.currentManifest(liDir)
        require(after.segments.forall(_.deleteVector.isEmpty),
          "h80: purge must drop every deletion-vector sidecar")
        require(after.segments.forall(_.dvDeletes == 0L),
          "h80: purged segments must report zero vectored rows")
        require(purged == before.segments.count(_.deleteVector.isDefined),
          s"h80: purged $purged of " +
            s"${before.segments.count(_.deleteVector.isDefined)} targets")
        s.sql("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          FROM graft_h80.db.li GROUP BY l_returnflag ORDER BY l_returnflag""")
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM lineitem WHERE NOT (l_quantity >= 30.0)
        GROUP BY l_returnflag ORDER BY l_returnflag"""))
    ,

    // ---------------------------------------------------------------- h81
    // TABLESAMPLE pushdown (SupportsPushDownTableSample): accepting is the
    // FULLY-pushed contract — Spark deletes its Sample operator and the
    // scan emits the subset itself. The decision is a seeded XXH64 of each
    // record's stable sequence number mapped onto [0, 1): layout-stable
    // (independent of read parallelism — Spark's own Bernoulli sampler
    // reseeds per partition index, so ITS sample changes under
    // repartitioning; ours never does) and decode-skipping (a rejected
    // row is frame-advanced, its payload never field-decoded — a 1%
    // sample of 100 TB pays ~1% of the decode CPU). The oracle replays
    // the exact hash over insertion order — the sample is a deterministic
    // function, not a statistical claim.
    QueryDef(
      "h81_tablesample_pushdown",
      (s, dir) => {
        import s.implicits._
        val p = colPath(dir, "h81")
        // one segment, written in o_orderkey order: seq == 0-based
        // insertion rank, which ROW_NUMBER reconstructs oracle-side
        table(s, dir, "orders").select($"o_orderkey", $"o_totalprice")
          .repartition(1).sortWithinPartitions($"o_orderkey")
          .write.format("hadro").mode("overwrite").save(p)
        val sampled = s.read.format("hadro").load(p).sample(0.37, 1234L)
        val plan = sampled.queryExecution.executedPlan.toString
        require(plan.contains("PushedSample"),
          s"h81: TABLESAMPLE did not push into the scan:\n$plan")
        sampled.orderBy($"o_orderkey")
      },
      Some(s"""WITH base AS (
          SELECT o_orderkey, o_totalprice,
            CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS HUGEINT) AS rid
          FROM orders)
        SELECT o_orderkey, o_totalprice FROM base
        WHERE CAST(${OracleXxh64.longExpr("rid", "1234")} // 2048 AS DOUBLE)
          / 9007199254740992.0 < 0.37
        ORDER BY o_orderkey"""))
    ,

    // ---------------------------------------------------------------- h82
    // SQL partition management (SupportsAtomicPartitionManagement): SHOW
    // PARTITIONS lists the manifest's routed tags (a metadata read — no
    // files opened), ALTER TABLE ... DROP PARTITION unlinks exactly the
    // named day's segments in one atomic commit. At 100 TB this is the
    // event-log retention surface ops tooling actually speaks — the SQL
    // twin of CALL system.drop_partitions. The oracle proves the
    // surviving data exact: every remaining day byte-identical, the
    // dropped day gone.
    QueryDef(
      "h82_sql_partition_mgmt",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_pmgmt/$tag"
        s.conf.set("spark.sql.catalog.graft_h82",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h82.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h82.db")
        s.sql("DROP TABLE IF EXISTS graft_h82.db.ev")
        s.sql("""CREATE TABLE graft_h82.db.ev (o_orderkey BIGINT,
          ts TIMESTAMP, o_totalprice DOUBLE)
          USING hadro PARTITIONED BY (days(ts))""")
        // 4 deterministic days keyed off o_orderkey
        table(s, dir, "orders")
          .select($"o_orderkey",
            (lit("2024-06-01 12:00:00").cast("timestamp") +
              make_dt_interval($"o_orderkey" % 4)).as("ts"),
            $"o_totalprice")
          .createOrReplaceTempView("h82_src")
        s.sql("INSERT INTO graft_h82.db.ev SELECT * FROM h82_src")
        // 2024-06-02 = epoch day 19876
        val shown = s.sql("SHOW PARTITIONS graft_h82.db.ev")
          .collect().map(_.getString(0)).toSeq
        require(shown == (19875 to 19878).map(d => s"ts_days=$d"),
          s"h82: SHOW PARTITIONS listed $shown")
        s.sql("ALTER TABLE graft_h82.db.ev DROP PARTITION (ts_days = 19876)")
        require(s.sql("SHOW PARTITIONS graft_h82.db.ev").count() == 3,
          "h82: dropped day must vanish from the listing")
        s.sql("""SELECT o_orderkey, o_totalprice FROM graft_h82.db.ev
          ORDER BY o_orderkey""")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderkey % 4 <> 1
        ORDER BY o_orderkey"""))
    ,

    // ---------------------------------------------------------------- h83
    // GROUPED aggregate pushdown: GROUP BY the identity partition column
    // answered ENTIRELY from manifest statistics — the physical plan is a
    // LocalTableScan, zero tasks, zero data bytes. Each partition's
    // segments are provably single-valued (exact zero-null min == max, the
    // h65 routing invariant), so per-group COUNT/SUM/MIN/MAX fold the same
    // per-segment stats the global h17/h56 paths use. At 100 TB the
    // canonical ops rollup (`SELECT day, COUNT(*), SUM(bytes) GROUP BY
    // day`) becomes a metadata read; the proof is stats-based, so it also
    // holds for unpartitioned-but-exactly-clustered layouts and survives
    // partition-spec respecs.
    QueryDef(
      "h83_grouped_agg_pushdown",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_gagg/$tag"
        s.conf.set("spark.sql.catalog.graft_h83",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h83.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h83.db")
        s.sql("DROP TABLE IF EXISTS graft_h83.db.t")
        s.sql("""CREATE TABLE graft_h83.db.t (o_orderkey BIGINT,
          o_orderpriority STRING, o_custkey BIGINT)
          USING hadro PARTITIONED BY (o_orderpriority)""")
        table(s, dir, "orders")
          .select($"o_orderkey", $"o_orderpriority", $"o_custkey")
          .createOrReplaceTempView("h83_src")
        s.sql("INSERT INTO graft_h83.db.t SELECT * FROM h83_src")
        val df = s.sql("""SELECT o_orderpriority,
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
            MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
          FROM graft_h83.db.t GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
          s"h83: grouped aggregate must answer from the manifest:\n$plan")
        df
      },
      Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
          MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))
    ,

    // ---------------------------------------------------------------- h84
    // WRITE-AUDIT-PUBLISH via branch refs (Iceberg branch /
    // spark.wap.branch analog): urgent orders land on a staging branch —
    // invisible to every main reader — get audited against the staged
    // snapshot (`VERSION AS OF 'audit'`), and publish as ONE atomic main
    // commit (`CALL system.fast_forward`), which refuses if main moved
    // since the fork. Metadata-only end to end: staging writes ordinary
    // segments, the branch head is a ref, publishing republishes a
    // manifest — zero data copied at any scale. The query asserts the
    // mid-flight isolation (main count unchanged while staged rows are
    // auditable on the branch) and returns the published table.
    QueryDef(
      "h84_wap_branch_publish",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_wap/$tag"
        s.conf.set("spark.sql.catalog.graft_h84",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h84.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h84.db")
        s.sql("DROP TABLE IF EXISTS graft_h84.db.t")
        s.sql("""CREATE TABLE graft_h84.db.t (o_orderkey BIGINT,
          o_orderpriority STRING, o_totalprice DOUBLE) USING hadro""")
        table(s, dir, "orders")
          .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
          .createOrReplaceTempView("h84_src")
        s.sql("""INSERT INTO graft_h84.db.t
          SELECT * FROM h84_src WHERE o_orderpriority <> '1-URGENT'""")
        val mainBefore = s.sql("SELECT COUNT(*) FROM graft_h84.db.t")
          .head().getLong(0)
        s.sql("CALL graft_h84.system.create_branch('db.t', 'audit', -1)")
        s.conf.set("spark.hadro.writeBranch", "audit")
        try s.sql("""INSERT INTO graft_h84.db.t
          SELECT * FROM h84_src WHERE o_orderpriority = '1-URGENT'""")
        finally s.conf.unset("spark.hadro.writeBranch")
        // isolation: main readers see nothing staged; the branch sees all
        val mainMid = s.sql("SELECT COUNT(*) FROM graft_h84.db.t")
          .head().getLong(0)
        require(mainMid == mainBefore,
          s"h84: staged rows leaked to main ($mainBefore -> $mainMid)")
        val staged = s.sql(
          "SELECT COUNT(*) FROM graft_h84.db.t VERSION AS OF 'audit'")
          .head().getLong(0)
        require(staged > mainBefore, s"h84: branch read missing staged rows")
        s.sql("CALL graft_h84.system.fast_forward('db.t', 'audit')")
        s.sql("""SELECT o_orderkey, o_orderpriority, o_totalprice
          FROM graft_h84.db.t ORDER BY o_orderkey""")
      },
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders ORDER BY o_orderkey"""))
    ,

    // ---------------------------------------------------------------- h85
    // REBASE publish (Iceberg cherry-pick analog): the WAP cycle where
    // MAIN MOVES while the audit runs — fast_forward correctly refuses
    // (publishing the fork-time snapshot would drop main's concurrent
    // batch), and `CALL system.rebase` re-applies ONLY the staged append
    // segments onto the moved head as one atomic metadata commit, then
    // re-forks the branch. At 100 TB this is the difference between "the
    // audit gate blocks ingest" and "audit and ingest overlap freely":
    // zero bytes copied, zero writes retried.
    QueryDef(
      "h85_rebase_publish",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_rebase/$tag"
        s.conf.set("spark.sql.catalog.graft_h85",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h85.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h85.db")
        s.sql("DROP TABLE IF EXISTS graft_h85.db.t")
        s.sql("""CREATE TABLE graft_h85.db.t (o_orderkey BIGINT,
          o_orderpriority STRING, o_totalprice DOUBLE) USING hadro""")
        table(s, dir, "orders")
          .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
          .createOrReplaceTempView("h85_src")
        s.sql("""INSERT INTO graft_h85.db.t SELECT * FROM h85_src
          WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')""")
        s.sql("CALL graft_h85.system.create_branch('db.t', 'audit', -1)")
        s.conf.set("spark.hadro.writeBranch", "audit")
        try s.sql("""INSERT INTO graft_h85.db.t SELECT * FROM h85_src
          WHERE o_orderpriority = '1-URGENT'""")
        finally s.conf.unset("spark.hadro.writeBranch")
        // main moves while the audit runs
        s.sql("""INSERT INTO graft_h85.db.t SELECT * FROM h85_src
          WHERE o_orderpriority = '2-HIGH'""")
        val ffRefused =
          try { s.sql("CALL graft_h85.system.fast_forward('db.t', 'audit')"); false }
          catch { case _: Exception => true }
        require(ffRefused,
          "h85: fast_forward must refuse after a concurrent main commit")
        s.sql("CALL graft_h85.system.rebase('db.t', 'audit')")
        s.sql("""SELECT o_orderkey, o_orderpriority, o_totalprice
          FROM graft_h85.db.t ORDER BY o_orderkey""")
      },
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders ORDER BY o_orderkey"""))
    ,

    // ---------------------------------------------------------------- h86
    // Table-declared WRITE ORDER (Iceberg `WRITE ORDERED BY` analog):
    // `TBLPROPERTIES ('sortedBy' = 'o_totalprice')` makes every catalog
    // INSERT require a within-partition sort (the planner adds it —
    // RequiresDistributionAndOrdering), so plain writes land range-sorted
    // segments: the manifest keeps its sortedBy declaration, scans report
    // per-partition ordering (redundant sorts planned away), and range
    // filters on the sort column prune segments — cluster()-quality
    // layout with zero maintenance jobs, the always-sorted event-table
    // shape at 100 TB. The query pins the declaration and the pruning
    // behavior; the oracle proves the sorted write is lossless.
    QueryDef(
      "h86_declared_write_order",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_worder/$tag"
        s.conf.set("spark.sql.catalog.graft_h86",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h86.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h86.db")
        s.sql("DROP TABLE IF EXISTS graft_h86.db.t")
        s.sql("""CREATE TABLE graft_h86.db.t (o_orderkey BIGINT,
          o_totalprice DOUBLE) USING hadro
          TBLPROPERTIES ('sortedBy' = 'o_totalprice')""")
        table(s, dir, "orders")
          .select($"o_orderkey", $"o_totalprice")
          .createOrReplaceTempView("h86_src")
        s.sql("INSERT INTO graft_h86.db.t SELECT * FROM h86_src")
        require(graft.meta.CollectionMeta.currentManifest(
            java.nio.file.Paths.get(s"$wh/db/t"))
          .sortedBy.contains("o_totalprice"),
          "h86: catalog INSERT must land sorted segments and declare it")
        val df = s.sql("""SELECT o_orderkey, o_totalprice FROM graft_h86.db.t
          WHERE o_totalprice BETWEEN 50000.0 AND 100000.0
          ORDER BY o_orderkey""")
        df
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice BETWEEN 50000.0 AND 100000.0
        ORDER BY o_orderkey"""))
    ,

    // ---------------------------------------------------------------- h87
    // MERGE WITH SCHEMA EVOLUTION (the append path's hadro.mergeSchema
    // reaching row-level ops): a CDC upsert pipeline whose UPSTREAM grew a
    // column keeps flowing — the clause routes the source's new column
    // through in-place ADD COLUMN (alterTable) before the merge executes,
    // old rows null-fill via the per-segment nFields machinery, and the
    // merge itself lands in one atomic commit. The month-one schema-drift
    // scenario for any 100 TB CDC ingest. Gated per-statement by the SQL
    // clause; `spark.hadro.mergeSchema.rowLevel=false` freezes it.
    QueryDef(
      "h87_merge_schema_evolution",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h87"
        s.conf.set("spark.sql.catalog.graft_h87",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h87.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h87.db")
        s.sql("DROP TABLE IF EXISTS graft_h87.db.t")
        val path = s"$wh/db/t"
        table(s, dir, "customer")
          .filter($"c_custkey" % 2 === 0)
          .select($"c_custkey", $"c_acctbal")
          .write.format("hadro").mode("append")
          .option("hadro.key", "c_custkey").save(path)
        table(s, dir, "customer")
          .filter($"c_custkey" % 3 === 0)
          .select($"c_custkey", ($"c_acctbal" + 1000.0).as("c_acctbal"),
            $"c_mktsegment".as("seg"))
          .createOrReplaceTempView("h87_src")
        s.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft_h87.db.t t
          USING h87_src s ON t.c_custkey = s.c_custkey
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
        graft.api.Collection(s, path).toDF()
          .groupBy(coalesce($"seg", lit("none")).as("seg"))
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum($"c_acctbal".cast("decimal(18,2)")).cast("double").as("sum_bal"))
          .orderBy("seg")
      },
      Some("""WITH base AS (
          SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 2 = 0),
        src AS (
          SELECT c_custkey, c_acctbal + 1000.0 AS c_acctbal,
            c_mktsegment AS seg
          FROM customer WHERE c_custkey % 3 = 0),
        merged AS (
          SELECT COALESCE(s.c_custkey, b.c_custkey) AS c_custkey,
            COALESCE(s.c_acctbal, b.c_acctbal) AS c_acctbal, s.seg AS seg
          FROM base b FULL OUTER JOIN src s ON b.c_custkey = s.c_custkey)
        SELECT COALESCE(seg, 'none') AS seg, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM merged GROUP BY 1 ORDER BY 1"""))
    ,

    // ---------------------------------------------------------------- h88
    // CDC DELETE rows from deletion-vector drift: a changes window read
    // with `hadro.changefeed=full` SYNTHESIZES `_hadro_deleted = true`
    // rows for rows dv-deleted inside the window on pre-window segments
    // (Delta CDF's synthesized deletes, derived from the window's two
    // manifest vectors), instead of refusing — so the two flagship 100 TB
    // patterns, GDPR-style dv deletes and nightly incremental reads,
    // compose. Rows appended AND dv-deleted inside the window net out;
    // the drift read plans only the affected split ranges. Plain window
    // reads over drift still refuse (they cannot represent a deletion).
    QueryDef(
      "h88_dv_changes_cdc",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h88"
        s.conf.set("spark.sql.catalog.graft_h88",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h88.warehouse", wh)
        val path = s"$wh/db/cust"
        table(s, dir, "customer")
          .filter($"c_custkey" % 2 === 0)
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
          .repartitionByRange(4, $"c_custkey")
          .write.format("hadro").mode("overwrite").save(path)
        val v1 = graft.api.Collection(s, path).version
        // in-window: append the odd half, then dv-delete the negative
        // balances EVERYWHERE — pre-window rows become synthesized CDC
        // deletes, in-window rows net out of the insert set
        table(s, dir, "customer")
          .filter($"c_custkey" % 2 === 1)
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
          .write.format("hadro").mode("append").save(path)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h88.db")
        s.conf.set("spark.hadro.delete.mode", "dv")
        try s.sql("DELETE FROM graft_h88.db.cust WHERE c_acctbal < 0.0")
        finally s.conf.unset("spark.hadro.delete.mode")
        s.read.format("hadro")
          .option("hadro.changefeed", "full")
          .option("hadro.changesStart", v1.toString).load(path)
          .groupBy(col("_hadro_deleted").cast("int").as("deleted"),
            $"c_mktsegment".as("seg"))
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum($"c_acctbal".cast("decimal(18,2)")).cast("double").as("sum_bal"))
          .orderBy("deleted", "seg")
      },
      Some("""WITH cdc AS (
          SELECT 0 AS deleted, c_mktsegment AS seg, c_acctbal
          FROM customer WHERE c_custkey % 2 = 1 AND NOT (c_acctbal < 0.0)
          UNION ALL
          SELECT 1 AS deleted, c_mktsegment AS seg, c_acctbal
          FROM customer WHERE c_custkey % 2 = 0 AND c_acctbal < 0.0)
        SELECT deleted, seg, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM cdc GROUP BY deleted, seg ORDER BY deleted, seg"""))
    ,

    // ---------------------------------------------------------------- h89
    // COMPOSITE declared write order — the (tenant, ts) layout: TBLPROPERTIES
    // 'sortedBy' = 'event_type, ts' makes every catalog INSERT land
    // (event_type, ts)-lex-sorted segments whose EXACT composite bounds
    // (first/last row tuple, writer-verified) are recorded per segment.
    // A conjunctive (event_type, ts-range) predicate then prunes segments
    // that per-column min/max must keep — the straddling-segment shape
    // that dominates multi-tenant event tables at 100 TB (WriteOrderSpec
    // proves the strictly-better pruning; this query proves the layout
    // reads exactly).
    QueryDef(
      "h89_composite_write_order",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h89"
        s.conf.set("spark.sql.catalog.graft_h89",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h89.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h89.db")
        s.sql("DROP TABLE IF EXISTS graft_h89.db.ev")
        s.sql("""CREATE TABLE graft_h89.db.ev
          (event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE)
          USING hadro TBLPROPERTIES ('sortedBy' = 'event_type, ts')""")
        table(s, dir, "events")
          .select(col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"),
            col("event_type"), col("value"))
          .createOrReplaceTempView("h89_src")
        s.sql("INSERT INTO graft_h89.db.ev SELECT * FROM h89_src")
        val m = graft.meta.CollectionMeta.currentManifest(
          java.nio.file.Paths.get(s"$wh/db/ev"))
        require(m.segments.nonEmpty &&
          m.segments.forall(_.sortCols.contains("event_type,ts")),
          "h89: catalog INSERT under a composite order must record " +
            "writer-verified lexicographic bounds on every segment")
        s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
          FROM graft_h89.db.ev
          WHERE event_type >= 'p' AND ts < TIMESTAMP '2024-01-15 00:00:00'
          GROUP BY event_type ORDER BY event_type""")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        FROM events
        WHERE event_type >= 'p' AND ts < TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY event_type ORDER BY event_type"""))
    ,

    // ---------------------------------------------------------------- h90
    // CDC DELETE rows for DROPPED PARTITIONS: the retention job
    // (drop_partitions — a metadata-only removal with no ordinal event)
    // inside a changes window surfaces as synthesized `_hadro_deleted`
    // rows for every row live at the window start, read with
    // hadro.changefeed=full — so the nightly incremental consumer sees
    // the aged-out day as delete events instead of a full-replay refusal
    // (h88's dv twin; together they make every row-removal mechanism an
    // incremental event). Rows appended AND dropped inside the window net
    // out — their segments exist in neither the floor nor the end set.
    QueryDef(
      "h90_drop_partition_cdc",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h90"
        s.conf.set("spark.sql.catalog.graft_h90",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h90.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h90.db")
        s.sql("DROP TABLE IF EXISTS graft_h90.db.ev")
        s.sql("""CREATE TABLE graft_h90.db.ev
          (event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE)
          USING hadro PARTITIONED BY (days(ts))""")
        table(s, dir, "events")
          .select(col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"),
            col("event_type"), col("value"))
          .createOrReplaceTempView("h90_src")
        s.sql("INSERT INTO graft_h90.db.ev SELECT * FROM h90_src")
        val path = s"$wh/db/ev"
        val v1 = graft.api.Collection(s, path).version
        // in-window: a late-arriving correction batch, then the retention
        // job drops everything before 2024-01-10 (epoch day 19732)
        s.sql("""INSERT INTO graft_h90.db.ev
          SELECT event_id + 10000000, ts, event_type, value * 2
          FROM h90_src WHERE event_type = 'click'""")
        graft.api.Collection(s, path).dropPartitions("19732")
        s.read.format("hadro")
          .option("hadro.changefeed", "full")
          .option("hadro.changesStart", v1.toString).load(path)
          .groupBy(col("_hadro_deleted").cast("int").as("deleted"),
            $"event_type")
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum($"value".cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy("deleted", "event_type")
      },
      Some("""WITH cdc AS (
          SELECT 1 AS deleted, event_type, value FROM events
          WHERE ts < TIMESTAMP '2024-01-10 00:00:00'
          UNION ALL
          SELECT 0 AS deleted, event_type, value * 2 FROM events
          WHERE event_type = 'click'
            AND ts >= TIMESTAMP '2024-01-10 00:00:00')
        SELECT deleted, event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        FROM cdc GROUP BY deleted, event_type
        ORDER BY deleted, event_type"""))
    ,

    // ---------------------------------------------------------------- h91
    // The incremental-consumer loop, closed end-to-end: a downstream
    // MATERIALIZED AGGREGATE maintained by MERGE-ing `changefeed=full`
    // changes windows — the consumer pattern every piece of the CDC
    // machinery (h74 windows, h88 dv-delete synthesis, h36 MERGE) exists
    // for. The cursor is a TAG ("h91_cursor"): each cycle reads the window
    // (tag, head], folds inserts (+1, +bal) and synthesized deletes
    // (-1, -bal) into per-segment deltas, MERGEs them into the rollup,
    // and advances the tag — restart-safe because the tag pins the floor
    // version against retention. Two full cycles run (append + dv DELETE
    // each); rows appended AND deleted inside one window net out by
    // construction. At 100 TB this is the nightly job that maintains a
    // rollup over a fact table by reading only the night's segments plus
    // the drifted blocks — never the table. Oracle = full recompute over
    // the final snapshot; DECIMAL(18,2) arithmetic end-to-end makes the
    // incremental fold bit-equal to the recompute.
    QueryDef(
      "h91_incremental_rollup",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h91"
        s.conf.set("spark.sql.catalog.graft_h91",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h91.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h91.db")
        val factPath = s"$wh/db/cust"
        val aggPath = s"$wh/db/seg_agg"
        val cust = table(s, dir, "customer")
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        // v0: the even half; the library verb materializes the rollup
        // FROM THE TAGGED SNAPSHOT and owns the cursor from here on
        cust.filter($"c_custkey" % 2 === 0)
          .write.format("hadro").mode("overwrite").save(factPath)
        graft.api.IncrementalRollup.bootstrap(s, factPath, "h91_cursor",
          aggPath, "c_mktsegment", Seq("c_acctbal" -> "sum_bal"))
        def cycle(): Unit = {
          graft.api.IncrementalRollup.cycle(s, factPath, "h91_cursor",
            "graft_h91.db.seg_agg", "c_mktsegment", Seq("c_acctbal" -> "sum_bal"))
          ()
        }
        s.conf.set("spark.hadro.delete.mode", "dv")
        try {
          // cycle 1: a third of the odd half arrives; negatives purged —
          // in-window appends with negative balances net out of the delta
          cust.filter($"c_custkey" % 2 === 1 && $"c_custkey" % 3 === 0)
            .write.format("hadro").mode("append").save(factPath)
          s.sql("DELETE FROM graft_h91.db.cust WHERE c_acctbal < 0.0")
          cycle()
          // cycle 2: the rest of the odd half; negatives AND >9000 purged
          cust.filter($"c_custkey" % 2 === 1 && $"c_custkey" % 3 =!= 0)
            .write.format("hadro").mode("append").save(factPath)
          s.sql("""DELETE FROM graft_h91.db.cust
            WHERE c_acctbal < 0.0 OR c_acctbal > 9000.0""")
          cycle()
        } finally s.conf.unset("spark.hadro.delete.mode")
        Collection(s, aggPath).toDF()
          .select($"c_mktsegment".as("seg"), $"n",
            $"sum_bal".cast("double").as("sum_bal"))
          .orderBy("seg")
      },
      Some("""SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM customer
        WHERE c_acctbal >= 0.0 AND c_acctbal <= 9000.0
        GROUP BY 1 ORDER BY 1"""))
    ,

    // ---------------------------------------------------------------- h93
    // The h91 consumer loop SURVIVING mid-window maintenance: small-file
    // compaction (compactSmall) runs between the consumer's cycles, so
    // each changes window CROSSES a generation change — the chain walk
    // classifies the in-window commits from retained manifest metadata,
    // proves the rewrite data-preserving (writer provenance + live-count
    // conservation), re-bases the floor through the rewrite outputs, and
    // the window still yields exactly the net change set (inserts + dv
    // CDC deletes, including deletes landing ON rewrite outputs). This is
    // the nightly-consumer-vs-hourly-compactor conflict at 100 TB —
    // Iceberg's skip-replace-snapshots shape — which previously forced a
    // full snapshot replay. Oracle = full recompute, as in h91.
    QueryDef(
      "h93_rollup_across_compaction",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h93"
        s.conf.set("spark.sql.catalog.graft_h93",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h93.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h93.db")
        val factPath = s"$wh/db/cust"
        val aggPath = s"$wh/db/seg_agg"
        val cust = table(s, dir, "customer")
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        cust.filter($"c_custkey" % 2 === 0).repartition(4)
          .write.format("hadro").mode("overwrite").save(factPath)
        val fact = Collection(s, factPath)
        graft.api.IncrementalRollup.bootstrap(s, factPath, "h93_cursor",
          aggPath, "c_mktsegment", Seq("c_acctbal" -> "sum_bal"))
        def cycle(): Unit = {
          graft.api.IncrementalRollup.cycle(s, factPath, "h93_cursor",
            "graft_h93.db.seg_agg", "c_mktsegment", Seq("c_acctbal" -> "sum_bal"))
          ()
        }
        s.conf.set("spark.hadro.delete.mode", "dv")
        try {
          // cycle 1: the COMPACTOR bins the pre-window smalls FIRST (the
          // window must cross its generation change), then ingest + GDPR
          val gen0 = graft.meta.CollectionMeta.currentManifest(
            java.nio.file.Paths.get(factPath)).generation
          require(fact.compactSmall(1L << 30) >= 1,
            "h93: the maintenance rewrite must actually bin segments")
          require(graft.meta.CollectionMeta.currentManifest(
            java.nio.file.Paths.get(factPath)).generation != gen0,
            "h93: the window must cross a generation change")
          cust.filter($"c_custkey" % 2 === 1 && $"c_custkey" % 3 === 0)
            .write.format("hadro").mode("append").save(factPath)
          s.sql("DELETE FROM graft_h93.db.cust WHERE c_acctbal < 0.0")
          cycle()
          // cycle 2: compactor runs again, then the rest of the odd half
          fact.compactSmall(1L << 30)
          cust.filter($"c_custkey" % 2 === 1 && $"c_custkey" % 3 =!= 0)
            .write.format("hadro").mode("append").save(factPath)
          s.sql("""DELETE FROM graft_h93.db.cust
            WHERE c_acctbal < 0.0 OR c_acctbal > 9000.0""")
          cycle()
        } finally s.conf.unset("spark.hadro.delete.mode")
        Collection(s, aggPath).toDF()
          .select($"c_mktsegment".as("seg"), $"n",
            $"sum_bal".cast("double").as("sum_bal"))
          .orderBy("seg")
      },
      Some("""SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM customer
        WHERE c_acctbal >= 0.0 AND c_acctbal <= 9000.0
        GROUP BY 1 ORDER BY 1"""))
    ,

    // ---------------------------------------------------------------- h94
    // The KEYED incremental-consumer loop: for an upsert/tombstone fact
    // table, a raw changefeed window is NOT a valid rollup delta (an
    // upsert's new version would double-count the shadowed row), so
    // IncrementalRollup.cycleKeyed classifies the window through
    // ChangeFeed.updateImages first and folds the typed rows with a
    // uniform sign — insert/update_postimage +1/+v, delete/
    // update_preimage -1/-v — which also makes GROUP-CHANGING updates
    // exact (the old group decrements, the new group increments). Two
    // cycles: value updates, a segment move to 'MOVED', inserts,
    // tombstone deletes (including half the moved group and in-window
    // insert+delete churn that nets out). Oracle = full recompute over
    // the final keyed state.
    QueryDef(
      "h94_keyed_incremental_rollup",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h94"
        s.conf.set("spark.sql.catalog.graft_h94",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h94.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h94.db")
        val factPath = s"$wh/db/cust"
        val aggPath = s"$wh/db/seg_agg"
        val cust = table(s, dir, "customer")
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        cust.filter($"c_custkey" % 2 === 0)
          .write.format("hadro").mode("overwrite")
          .option("hadro.key", "c_custkey").save(factPath)
        val fact = Collection(s, factPath)
        graft.api.IncrementalRollup.bootstrap(s, factPath, "h94_cursor",
          aggPath, "c_mktsegment", Seq("c_acctbal" -> "sum_bal"))
        def cycle(): Unit = {
          graft.api.IncrementalRollup.cycleKeyed(s, factPath, "h94_cursor",
            "graft_h94.db.seg_agg", "c_mktsegment",
            Seq("c_acctbal" -> "sum_bal"))
          ()
        }
        // cycle 1: value updates, a GROUP MOVE, inserts, tombstones
        fact.set(cust.filter($"c_custkey" % 10 === 0)
          .withColumn("c_acctbal", $"c_acctbal" * 2))
        fact.set(cust.filter($"c_custkey" % 10 === 6)
          .withColumn("c_mktsegment", lit("MOVED")))
        fact.set(cust.filter($"c_custkey" % 2 === 1 &&
          $"c_custkey" % 7 === 0))
        fact.merge(cust.filter($"c_custkey" % 10 === 4)
          .withColumn("d", lit(true)), $"d")
        cycle()
        // cycle 2: more updates, churn that nets out, moved-group deletes
        fact.set(cust.filter($"c_custkey" % 10 === 2)
          .withColumn("c_acctbal", $"c_acctbal" + 1000.0))
        fact.set(cust.filter($"c_custkey" % 2 === 1 &&
          $"c_custkey" % 11 === 0))
        fact.merge(cust.filter(($"c_custkey" % 20 === 6) ||
            ($"c_custkey" % 2 === 1 && $"c_custkey" % 11 === 0))
          .withColumn("d", lit(true)), $"d")
        cycle()
        Collection(s, aggPath).toDF()
          .select($"c_mktsegment".as("seg"), $"n",
            $"sum_bal".cast("double").as("sum_bal"))
          .orderBy("seg")
      },
      Some("""WITH fin AS (
          SELECT c_custkey,
            CASE WHEN c_custkey % 10 = 6 THEN 'MOVED'
                 ELSE c_mktsegment END AS seg,
            CASE WHEN c_custkey % 10 = 0 THEN c_acctbal * 2
                 WHEN c_custkey % 10 = 2 THEN c_acctbal + 1000.0
                 ELSE c_acctbal END AS bal
          FROM customer
          WHERE (c_custkey % 2 = 0 AND c_custkey % 10 <> 4
                 AND c_custkey % 20 <> 6)
             OR (c_custkey % 2 = 1 AND c_custkey % 7 = 0
                 AND c_custkey % 11 <> 0))
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM fin GROUP BY 1 ORDER BY 1"""))
    ,

    // ---------------------------------------------------------------- h92
    // CDC UPDATE PRE-IMAGES (Delta-CDF `_change_type` analog): a keyed
    // collection's changes window, classified per key against the
    // pre-window snapshot by [[graft.api.ChangeFeed.updateImages]] —
    // update_preimage/update_postimage pairs for upserts of existing
    // keys (including delete-then-reinsert, whose pre-image is the
    // ORIGINAL value), `delete` rows carrying the removed values, plain
    // `insert` for new keys, and nothing for keys created AND destroyed
    // inside the window. The window: one upsert commit (updates + new
    // keys), one CDC-merge delete commit, one reinsert commit. Oracle =
    // the same classification derived from the base table.
    QueryDef(
      "h92_cdc_update_images",
      (s, dir) => {
        import s.implicits._
        val path = colPath(dir, "h92")
        val cust = table(s, dir, "customer")
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        Collection.create(s, path, cust.filter($"c_custkey" % 2 === 0),
          key = Some("c_custkey"))
        val c = Collection(s, path)
        val v1 = c.version
        // commit A: update every %10==0 key, insert the odd %7==0 keys
        c.append(cust.filter($"c_custkey" % 10 === 0)
          .withColumn("c_acctbal", $"c_acctbal" * 2)
          .unionByName(cust.filter($"c_custkey" % 2 === 1 &&
            $"c_custkey" % 7 === 0)))
        // commit B: CDC-merge tombstones — every %10==4 key (existing)
        // and the in-window inserts divisible by 3 (these net out)
        c.merge(cust.filter(($"c_custkey" % 10 === 4) ||
            ($"c_custkey" % 2 === 1 && $"c_custkey" % 7 === 0 &&
              $"c_custkey" % 3 === 0))
          .withColumn("d", lit(true)), $"d")
        // commit C: reinsert the %20==4 keys the delete just removed
        c.append(cust.filter($"c_custkey" % 20 === 4)
          .withColumn("c_acctbal", $"c_acctbal" + 5000.0))
        val v2 = c.version
        graft.api.ChangeFeed.updateImages(s, path, v1, v2)
          .orderBy("_change_type", "c_custkey")
      },
      Some("""WITH base AS (
          SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        ups AS (
          SELECT c_custkey, c_mktsegment, c_acctbal AS oldb,
            CASE WHEN c_custkey % 20 = 4 THEN c_acctbal + 5000.0
                 ELSE c_acctbal * 2 END AS newb
          FROM base
          WHERE c_custkey % 2 = 0
            AND (c_custkey % 10 = 0 OR c_custkey % 20 = 4)),
        typed AS (
          SELECT c_custkey, c_mktsegment, c_acctbal, 'insert' AS _change_type
          FROM base WHERE c_custkey % 2 = 1 AND c_custkey % 7 = 0
            AND c_custkey % 3 <> 0
          UNION ALL
          SELECT c_custkey, c_mktsegment, oldb, 'update_preimage' FROM ups
          UNION ALL
          SELECT c_custkey, c_mktsegment, newb, 'update_postimage' FROM ups
          UNION ALL
          SELECT c_custkey, c_mktsegment, c_acctbal, 'delete'
          FROM base WHERE c_custkey % 2 = 0 AND c_custkey % 10 = 4
            AND c_custkey % 20 <> 4)
        SELECT c_custkey, c_mktsegment, c_acctbal, _change_type
        FROM typed ORDER BY _change_type, c_custkey"""))
    ,

    // ---------------------------------------------------------------- h95
    // TYPED CDC THROUGH PURE SQL (Delta `table_changes()` analog): the
    // h92 machinery, reachable without linking the Scala API — `CALL
    // <cat>.system.typed_changes(table, start, end, view)` registers a
    // lazy temp view of `_change_type` rows and a SQL SELECT consumes
    // it. The view is fully distributed (ChangeFeed.updateImages:
    // window-proportional scan, touched-key-restricted pre-images); the
    // procedure's own result is one descriptor row. Same history and
    // oracle as h92, consumed over the SQL surface end-to-end.
    QueryDef(
      "h95_typed_changes_sql",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h95"
        s.conf.set("spark.sql.catalog.graft_h95",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h95.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h95.db")
        val path = s"$wh/db/cust"
        val cust = table(s, dir, "customer")
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        Collection.create(s, path, cust.filter($"c_custkey" % 2 === 0),
          key = Some("c_custkey"))
        val c = Collection(s, path)
        val v1 = c.version
        c.append(cust.filter($"c_custkey" % 10 === 0)
          .withColumn("c_acctbal", $"c_acctbal" * 2)
          .unionByName(cust.filter($"c_custkey" % 2 === 1 &&
            $"c_custkey" % 7 === 0)))
        c.merge(cust.filter(($"c_custkey" % 10 === 4) ||
            ($"c_custkey" % 2 === 1 && $"c_custkey" % 7 === 0 &&
              $"c_custkey" % 3 === 0))
          .withColumn("d", lit(true)), $"d")
        c.append(cust.filter($"c_custkey" % 20 === 4)
          .withColumn("c_acctbal", $"c_acctbal" + 5000.0))
        val v2 = c.version
        val desc = s.sql(s"CALL graft_h95.system.typed_changes(" +
          s"'db.cust', $v1, $v2, 'h95_changes')").collect()
        require(desc.length == 1 && desc.head.getString(0) == "h95_changes",
          s"typed_changes descriptor row: ${desc.toSeq}")
        s.sql("""SELECT c_custkey, c_mktsegment, c_acctbal, _change_type
          FROM h95_changes ORDER BY _change_type, c_custkey""")
      },
      Some("""WITH base AS (
          SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        ups AS (
          SELECT c_custkey, c_mktsegment, c_acctbal AS oldb,
            CASE WHEN c_custkey % 20 = 4 THEN c_acctbal + 5000.0
                 ELSE c_acctbal * 2 END AS newb
          FROM base
          WHERE c_custkey % 2 = 0
            AND (c_custkey % 10 = 0 OR c_custkey % 20 = 4)),
        typed AS (
          SELECT c_custkey, c_mktsegment, c_acctbal, 'insert' AS _change_type
          FROM base WHERE c_custkey % 2 = 1 AND c_custkey % 7 = 0
            AND c_custkey % 3 <> 0
          UNION ALL
          SELECT c_custkey, c_mktsegment, oldb, 'update_preimage' FROM ups
          UNION ALL
          SELECT c_custkey, c_mktsegment, newb, 'update_postimage' FROM ups
          UNION ALL
          SELECT c_custkey, c_mktsegment, c_acctbal, 'delete'
          FROM base WHERE c_custkey % 2 = 0 AND c_custkey % 10 = 4
            AND c_custkey % 20 <> 4)
        SELECT c_custkey, c_mktsegment, c_acctbal, _change_type
        FROM typed ORDER BY _change_type, c_custkey"""))
    ,

    // ---------------------------------------------------------------- h96
    // PARTIAL-RECOMPUTE rollup maintenance (MIN/MAX): a deleted row may
    // have BEEN a group's extreme, so no signed delta fold can maintain
    // MIN/MAX — the materialized-view move is to re-aggregate ONLY the
    // groups the window touched (IncrementalRollup.cycleRefresh): the
    // changes window yields the touched-group set, the head snapshot is
    // re-read RESTRICTED to those groups (IN pushdown + per-segment
    // min/max stats prune group-clustered layouts to just their
    // segments), and one MERGE refreshes/deletes exactly those rollup
    // rows. Both cycles delete per-group extremes (negatives = the
    // mins, then >9000 = the maxes), the case foldable deltas cannot
    // handle. Oracle = full recompute with MIN/MAX/SUM.
    QueryDef(
      "h96_minmax_rollup_refresh",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h96"
        s.conf.set("spark.sql.catalog.graft_h96",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h96.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h96.db")
        val factPath = s"$wh/db/cust"
        val aggPath = s"$wh/db/seg_mm"
        val cust = table(s, dir, "customer")
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        cust.filter($"c_custkey" % 2 === 0)
          .write.format("hadro").mode("overwrite").save(factPath)
        val aggs = Seq(("min", "c_acctbal", "min_bal"),
          ("max", "c_acctbal", "max_bal"), ("sum", "c_acctbal", "sum_bal"))
        graft.api.IncrementalRollup.bootstrapRefresh(s, factPath,
          "h96_cursor", aggPath, "c_mktsegment", aggs)
        def cycle(): Unit = {
          graft.api.IncrementalRollup.cycleRefresh(s, factPath,
            "h96_cursor", "graft_h96.db.seg_mm", "c_mktsegment", aggs)
          ()
        }
        s.conf.set("spark.hadro.delete.mode", "dv")
        try {
          // cycle 1: odd third arrives; negatives purged — every group's
          // MIN moves up, unrecoverable from a delta fold
          cust.filter($"c_custkey" % 2 === 1 && $"c_custkey" % 3 === 0)
            .write.format("hadro").mode("append").save(factPath)
          s.sql("DELETE FROM graft_h96.db.cust WHERE c_acctbal < 0.0")
          cycle()
          // cycle 2: the rest; >9000 purged — every group's MAX moves
          cust.filter($"c_custkey" % 2 === 1 && $"c_custkey" % 3 =!= 0)
            .write.format("hadro").mode("append").save(factPath)
          s.sql("""DELETE FROM graft_h96.db.cust
            WHERE c_acctbal < 0.0 OR c_acctbal > 9000.0""")
          cycle()
        } finally s.conf.unset("spark.hadro.delete.mode")
        Collection(s, aggPath).toDF()
          .select($"c_mktsegment".as("seg"), $"n", $"min_bal", $"max_bal",
            $"sum_bal".cast("double").as("sum_bal"))
          .orderBy("seg")
      },
      Some("""SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
          MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM customer
        WHERE c_acctbal >= 0.0 AND c_acctbal <= 9000.0
        GROUP BY 1 ORDER BY 1"""))
    ,

    // ---------------------------------------------------------------- h97
    // The h91 consumer loop driven ENTIRELY from SQL: CALL
    // system.rollup_bootstrap pins the cursor and materializes the
    // baseline, CALL system.rollup_cycle folds each changes window and
    // MERGEs it — so a pure-SQL operator (an orchestrator with a SQL
    // console, no Scala linkage) can run the nightly maintenance loop,
    // the same reachability the storage procedures (compact, vacuum...)
    // already have. Same exactly-once contract and the same
    // full-recompute oracle as h91.
    QueryDef(
      "h97_rollup_sql_procedures",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h97"
        s.conf.set("spark.sql.catalog.graft_h97",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h97.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h97.db")
        val factPath = s"$wh/db/cust"
        val cust = table(s, dir, "customer")
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        cust.filter($"c_custkey" % 2 === 0)
          .write.format("hadro").mode("overwrite").save(factPath)
        val boot = s.sql("""CALL graft_h97.system.rollup_bootstrap(
          'db.cust', 'h97_cursor', 'db.seg_agg', 'c_mktsegment',
          'sum:c_acctbal:sum_bal')""").collect()
        require(boot.length == 1 &&
          boot.head.getString(0) == "graft_h97.db.seg_agg",
          s"rollup_bootstrap descriptor: ${boot.toSeq}")
        def cycle(): Unit = {
          val r = s.sql("""CALL graft_h97.system.rollup_cycle(
            'db.cust', 'h97_cursor', 'db.seg_agg', 'c_mktsegment',
            'c_acctbal:sum_bal', false)""").collect()
          require(r.length == 1 && !r.head.isNullAt(0),
            s"rollup_cycle descriptor: ${r.toSeq}")
        }
        s.conf.set("spark.hadro.delete.mode", "dv")
        try {
          cust.filter($"c_custkey" % 2 === 1 && $"c_custkey" % 3 === 0)
            .write.format("hadro").mode("append").save(factPath)
          s.sql("DELETE FROM graft_h97.db.cust WHERE c_acctbal < 0.0")
          cycle()
          cust.filter($"c_custkey" % 2 === 1 && $"c_custkey" % 3 =!= 0)
            .write.format("hadro").mode("append").save(factPath)
          s.sql("""DELETE FROM graft_h97.db.cust
            WHERE c_acctbal < 0.0 OR c_acctbal > 9000.0""")
          cycle()
        } finally s.conf.unset("spark.hadro.delete.mode")
        // final read stays pure SQL too: the MERGE maintains the keyed
        // rollup merge-on-read and a plain SQL scan deliberately keeps
        // reference scan() parity (shadowed versions included), so the
        // LWW view comes from CALL system.resolved_view — the whole
        // loop (bootstrap, cycles, read) never touches the Scala API
        val rv = s.sql("""CALL graft_h97.system.resolved_view(
          'db.seg_agg', 'h97_rollup')""").collect()
        require(rv.length == 1 && rv.head.getString(0) == "h97_rollup",
          s"resolved_view descriptor: ${rv.toSeq}")
        s.sql("""SELECT c_mktsegment AS seg, n,
            CAST(sum_bal AS DOUBLE) AS sum_bal
          FROM h97_rollup ORDER BY seg""")
      },
      Some("""SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM customer
        WHERE c_acctbal >= 0.0 AND c_acctbal <= 9000.0
        GROUP BY 1 ORDER BY 1"""))
    ,

    // ---------------------------------------------------------------- h98
    // h96's partial-recompute refresh over a KEYED fact — the shape where
    // the window's raw rows are NOT the touched-group truth: a
    // group-moving upsert must refresh its OLD group too (the typed
    // pre-image carries it), and the snapshot restriction cannot filter
    // groups below the per-key LWW window (shadowed versions would
    // resurrect) — cycleRefresh restricts by the sound superset "keys
    // with any version in a touched group" instead, below the window.
    // Upserts MOVE keys across segments and retarget extremes; tombstone
    // deletes remove others. Oracle = full recompute of the final
    // resolved state.
    QueryDef(
      "h98_keyed_minmax_refresh",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val wh = s"/tmp/graft_catalogs/${tag}_h98"
        s.conf.set("spark.sql.catalog.graft_h98",
          classOf[graft.spark.HadroCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_h98.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_h98.db")
        val factPath = s"$wh/db/cust"
        val aggPath = s"$wh/db/seg_mm"
        val cust = table(s, dir, "customer")
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        cust.filter($"c_custkey" % 2 === 0)
          .write.format("hadro").mode("overwrite")
          .option("hadro.key", "c_custkey").save(factPath)
        val fact = Collection(s, factPath)
        val aggs = Seq(("min", "c_acctbal", "min_bal"),
          ("max", "c_acctbal", "max_bal"), ("sum", "c_acctbal", "sum_bal"))
        graft.api.IncrementalRollup.bootstrapRefresh(s, factPath,
          "h98_cursor", aggPath, "c_mktsegment", aggs)
        def cycle(): Unit = {
          graft.api.IncrementalRollup.cycleRefresh(s, factPath,
            "h98_cursor", "graft_h98.db.seg_mm", "c_mktsegment", aggs)
          ()
        }
        // window 1: group-MOVING upserts (%10==0 relocate to 'MOVED' at
        // twice the balance — their old segments' extremes must refresh
        // from the pre-image side), new odd keys arrive, %20==4 deleted
        fact.set(cust.filter($"c_custkey" % 10 === 0)
          .withColumn("c_mktsegment", lit("MOVED"))
          .withColumn("c_acctbal", $"c_acctbal" * 2))
        fact.set(cust.filter($"c_custkey" % 2 === 1 && $"c_custkey" % 3 === 0))
        fact.merge(cust.filter($"c_custkey" % 20 === 4)
          .withColumn("d", lit(true)), $"d")
        cycle()
        // window 2: extreme-retargeting upserts (%10==6 gain 5000 in
        // place) and more tombstones (%20==8)
        fact.set(cust.filter($"c_custkey" % 10 === 6)
          .withColumn("c_acctbal", $"c_acctbal" + 5000.0))
        fact.merge(cust.filter($"c_custkey" % 20 === 8)
          .withColumn("d", lit(true)), $"d")
        cycle()
        Collection(s, aggPath).toDF()
          .select($"c_mktsegment".as("seg"), $"n", $"min_bal", $"max_bal",
            $"sum_bal".cast("double").as("sum_bal"))
          .orderBy("seg")
      },
      Some("""WITH final AS (
          SELECT CASE WHEN c_custkey % 10 = 0 THEN 'MOVED'
                      ELSE c_mktsegment END AS seg,
            CASE WHEN c_custkey % 10 = 0 THEN c_acctbal * 2
                 WHEN c_custkey % 10 = 6 THEN c_acctbal + 5000.0
                 ELSE c_acctbal END AS bal
          FROM customer
          WHERE (c_custkey % 2 = 0 AND c_custkey % 20 NOT IN (4, 8))
             OR (c_custkey % 2 = 1 AND c_custkey % 3 = 0))
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
          MIN(bal) AS min_bal, MAX(bal) AS max_bal,
          CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM final GROUP BY 1 ORDER BY 1"""))
  )
}
