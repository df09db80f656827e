package graft.spark

import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, Transform, Expression => V2Expression, Literal => V2Literal, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.format.{RecordCodec, SegmentReader, StatsCollector}
import graft.meta.{CollectionMeta, ColumnStats, Manifest, SegmentInfo}

/** DSv2 entry point for the hadro storage format: register via
  * `spark.read/write.format("hadro")` (META-INF/services). A "collection" is
  * a directory of immutable segment files plus `_hadro/` metadata — the
  * Spark-parallel realization of the reference's single-file Bitcask layout
  * (`/root/reference/hadro/engine.py:80-120`).
  */
final class HadroDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "hadro"
  override def supportsExternalMetadata(): Boolean = true

  private def collectionPath(options: CaseInsensitiveStringMap): Path = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "hadro: a collection path is required") // engine.py:88-89
    Paths.get(p)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val stored = CollectionMeta.readSchema(collectionPath(options))
      .map(HadroTable.reportedSchema).getOrElse {
      throw new IllegalArgumentException(
        s"hadro: collection at ${collectionPath(options)} has no schema " +
          "(write to it first, or pass an explicit schema)")
    }
    // `hadro.changefeed=full` surfaces the record sequence and tombstone
    // flag as REGULAR schema columns (tombstone records included) — the
    // full CDC view, and the only way to see deletes on a STREAM, where
    // Spark does not route metadata columns through column pruning.
    if ("full".equalsIgnoreCase(options.getOrDefault("hadro.changefeed", ""))) {
      StructType(stored.fields
        :+ StructField(HadroTable.SeqCol, LongType, nullable = false)
        :+ StructField(HadroTable.DeletedCol, BooleanType, nullable = false))
    } else stored
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new HadroTable(collectionPath(opts), schema)
  }
}

object HadroTable {
  val SeqCol = "_hadro_seq"
  val DeletedCol = "_hadro_deleted"
  val MetaColNames: Set[String] = Set(SeqCol, DeletedCol)

  /** The REPORTED table schema: the stored schema with the key field
    * marked non-nullable. A keyed collection's key is semantically
    * non-null (it identifies the record — a null key could never be
    * upserted or deleted), and reporting it that way is what lets Spark
    * accept it as a row-level operation row id (NULLABLE_ROW_ID_ATTRIBUTES
    * is an analysis error). Writes stay compatible: under the default
    * ANSI store-assignment policy Spark guards nullable inputs with a
    * runtime null check instead of rejecting the plan. */
  def reportedSchema(meta: CollectionMeta.SchemaMeta): StructType = {
    val logical = CollectionMeta.logicalSchema(meta.schema)
    meta.keyField match {
      case Some(k) => StructType(logical.fields.map(f =>
        if (f.name == k) f.copy(nullable = false) else f))
      case None => logical
    }
  }
  /** Bits reserved for the in-segment row index inside a record's global
    * sequence number: seq = segmentOrdinal << 40 | rowIndex. 2^40 rows per
    * segment and 2^23 segments per collection. */
  val SeqOrdinalShift = 40
}

/** One hadro collection as a Spark table. Exposes `_hadro_seq` and
  * `_hadro_deleted` metadata columns — selecting `_hadro_deleted` switches
  * the scan into raw mode (tombstone records included) so the Collection
  * API can resolve last-write-wins; a plain scan skips tombstones exactly
  * like the reference (`hadro/engine.py:169`). */
/** `viaCatalog`: true when this table was resolved through HadroCatalog —
  * the only context where Spark can resolve our `bucket` transform (the
  * catalog doubles as the FunctionCatalog), and therefore the only context
  * where the write may REQUIRE a bucket-clustered distribution. Path-based
  * writes still bucket correctly (writer-side routing), they just don't
  * ask Spark for the shuffle. */
final class HadroTable(path: Path, dataSchema: StructType,
    val viaCatalog: Boolean = false,
    // SQL time travel (`VERSION AS OF` / `TIMESTAMP AS OF`): the catalog
    // resolves the instant to a manifest version and pins every scan of
    // this Table instance to it. A pinned table is read-only.
    val pinnedVersion: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsMetadataColumns
    with SupportsDeleteV2 with SupportsRowLevelOperations
    with SupportsAtomicPartitionManagement {

  override def name(): String = s"hadro.`$path`"
  override def schema(): StructType = dataSchema
  // Declared storage bucketing surfaces as the table's partitioning
  // (DESCRIBE / SHOW CREATE reflect it; readers get it from the manifest).
  override def partitioning(): Array[Transform] =
    CollectionMeta.readSchema(path).toArray.flatMap { m =>
      (m.bucketBy, m.numBuckets) match {
        case (Some(c), Some(n)) =>
          Array(Expressions.bucket(n, c.split(","): _*))
        case _ => (m.partitionBy, m.partitionTransform) match {
          case (Some(c), Some("identity")) => Array(Expressions.identity(c))
          case (Some(c), Some(t)) => Array(Expressions.apply(t,
            Expressions.column(c)): Transform)
          case _ => Array.empty[Transform]
        }
      }
    }
  override def capabilities(): java.util.Set[TableCapability] = {
    val base = Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)
    // `MERGE WITH SCHEMA EVOLUTION`: Spark only honors the clause when the
    // table declares AUTOMATIC_SCHEMA_EVOLUTION — the analyzer then routes
    // the source's new columns through TableCatalog.alterTable (AddColumn /
    // safe type widening, both in-place metadata evolution here) before
    // rewriting the MERGE, which is exactly the append path's
    // hadro.mergeSchema semantics reaching row-level ops. The clause is the
    // per-statement opt-in (no clause = no evolution, Spark's own gate);
    // `spark.hadro.mergeSchema.rowLevel=false` disables it table-wide for
    // deployments that want MERGE sources schema-frozen.
    val evolution =
      try org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.hadro.mergeSchema.rowLevel", "true").toBoolean
      catch { case _: Exception => true }
    (if (evolution) base + TableCapability.AUTOMATIC_SCHEMA_EVOLUTION
     else base).asJava
  }

  // DESCRIBE EXTENDED / SHOW TBLPROPERTIES surface the collection-level
  // declarations (key, codec); bucketing already shows via partitioning()
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    CollectionMeta.readSchema(path).foreach { meta =>
      meta.keyField.foreach(k => m.put("key", k))
      meta.compress.foreach(c => m.put("compress", c))
    }
    CollectionMeta.readWriteOrder(path).foreach(c => m.put("sortedBy", c))
    CollectionMeta.readConstraints(path).foreach { case (n, text) =>
      m.put(s"constraint.$n", text)
    }
    m
  }

  // ------------------------------------------------ partition management
  // SQL `SHOW PARTITIONS` / `ALTER TABLE ... DROP PARTITION` /
  // `TRUNCATE TABLE ... PARTITION` over declared value partitioning.
  // Partitions in hadro are IMPLICIT (a partition exists iff segments
  // carry its tag), so the managed identifier space is the manifest's
  // distinct tags: identity transforms expose the source column itself
  // (typed), time transforms expose `<col>_<transform>` as the epoch
  // ordinal INT — the same representation the `t.partitions` metadata
  // table and `drop_partitions` cutoffs use. Listing is a manifest read
  // (no files opened); dropping is [[graft.api.Collection.dropPartitionTags]]'
  // atomic metadata commit. ADD PARTITION is meaningless here and says so.

  /** (source column, transform, source type) when value-partitioned. */
  private def partitionMeta: Option[(String, String, DataType)] =
    CollectionMeta.readSchema(path).flatMap { m =>
      (m.partitionBy, m.partitionTransform) match {
        case (Some(c), Some(t)) =>
          m.schema.fields.find(_.name == c).map(f => (c, t, f.dataType))
        case _ => None
      }
    }

  override def partitionSchema(): StructType = partitionMeta match {
    case Some((c, "identity", dt)) => new StructType().add(c, dt)
    case Some((c, t, _)) => new StructType().add(s"${c}_$t", IntegerType)
    case None => new StructType()
  }

  private def requirePartitioned: (String, String, DataType) =
    partitionMeta.getOrElse(throw new UnsupportedOperationException(
      s"hadro: table ${name()} declares no value partitioning " +
        "(PARTITIONED BY at CREATE)"))

  /** A resolved partition identifier -> the writer's segment tag. */
  private def tagOfIdent(ident: InternalRow): String = {
    val (_, t, dt) = requirePartitioned
    if (ident.numFields < 1 || ident.isNullAt(0)) "__null__"
    else (t, dt) match {
      case ("identity", LongType) => ident.getLong(0).toString
      case ("identity", IntegerType | DateType) => ident.getInt(0).toString
      case ("identity", StringType) =>
        HadroPartition.stringTag(ident.getUTF8String(0).toString)
      case _ => ident.getInt(0).toString
    }
  }

  private def identOfTag(tag: String): InternalRow = {
    val (_, t, dt) = requirePartitioned
    val v: Any =
      if (tag == "__null__") null
      else (t, dt) match {
        case ("identity", LongType) => tag.toLong
        case ("identity", IntegerType | DateType) => tag.toInt
        case ("identity", StringType) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(tag)
        case _ => tag.toInt
      }
    new GenericInternalRow(Array[Any](v))
  }

  private def liveTags: Seq[String] = {
    val m = pinnedVersion.map(v => CollectionMeta.manifestAt(path, v))
      .getOrElse(CollectionMeta.currentManifest(path))
    m.segments.flatMap(_.partition).distinct
      .sortBy(t => (t.toLongOption.getOrElse(Long.MaxValue), t))
  }

  override def listPartitionIdentifiers(names: Array[String],
      ident: InternalRow): Array[InternalRow] = {
    requirePartitioned
    val tags =
      if (names.isEmpty) liveTags
      else { val w = tagOfIdent(ident); liveTags.filter(_ == w) }
    tags.map(identOfTag).toArray
  }

  override def dropPartitions(idents: Array[InternalRow]): Boolean = {
    require(pinnedVersion.isEmpty,
      "hadro: a time-travel-pinned table is read-only")
    val tags = idents.map(tagOfIdent).toSet
    graft.api.Collection(org.apache.spark.sql.SparkSession.active,
      path.toString).dropPartitionTags(tags) > 0
  }
  override def dropPartition(ident: InternalRow): Boolean =
    dropPartitions(Array(ident))
  // PURGE skips the deferred grace generation: the dropped segments'
  // files are reclaimed NOW (pinned version tags still protect theirs).
  override def purgePartitions(idents: Array[InternalRow]): Boolean = {
    val any = dropPartitions(idents)
    val live = CollectionMeta.currentManifest(path).segments
      .flatMap(_.allFiles).toSet
    CollectionMeta.purgeDeferred(path, live)
    any
  }
  override def purgePartition(ident: InternalRow): Boolean =
    purgePartitions(Array(ident))
  // TRUNCATE ... PARTITION: partitions are implicit, so emptying one IS
  // unlinking its segments — same atomic commit as DROP.
  override def truncatePartitions(idents: Array[InternalRow]): Boolean =
    dropPartitions(idents)
  override def truncatePartition(ident: InternalRow): Boolean =
    dropPartitions(Array(ident))

  override def createPartitions(idents: Array[InternalRow],
      props: Array[java.util.Map[String, String]]): Unit =
    throw new UnsupportedOperationException(
      "hadro: partitions are implicit — a partition exists once a write " +
        "routes rows to it; ADD PARTITION has nothing to create")
  override def replacePartitionMetadata(ident: InternalRow,
      props: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "hadro: partitions carry no mutable metadata")
  override def loadPartitionMetadata(ident: InternalRow):
      java.util.Map[String, String] = {
    val tag = tagOfIdent(ident)
    val m = pinnedVersion.map(v => CollectionMeta.manifestAt(path, v))
      .getOrElse(CollectionMeta.currentManifest(path))
    val segs = m.segments.filter(_.partition.contains(tag))
    val out = new java.util.HashMap[String, String]()
    out.put("numSegments", segs.size.toString)
    out.put("numRows",
      segs.map(s => s.rows - s.tombstones - s.dvDeletes).sum.toString)
    out.put("numBytes", segs.map(_.bytes).sum.toString)
    out
  }

  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name: String = HadroTable.SeqCol
      override def dataType: DataType = LongType
      override def isNullable: Boolean = false
      override def comment: String = "hadro record sequence (segment ordinal << 40 | row index)"
    },
    new MetadataColumn {
      override def name: String = HadroTable.DeletedCol
      override def dataType: DataType = BooleanType
      override def isNullable: Boolean = false
      override def comment: String = "hadro tombstone flag; selecting it includes tombstone records"
    })

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // numeric version or a TAG name — same resolution the SQL
    // `VERSION AS OF` surface applies (digit-only tags are rejected at
    // creation, so the numeric parse can safely win)
    def resolveVersion(opt: String): Option[Long] =
      Option(options.get(opt)).map(v =>
        try v.toLong
        catch {
          case _: NumberFormatException =>
            CollectionMeta.readRefs(path).getOrElse(v,
              throw new IllegalArgumentException(
                s"hadro: $opt expects a version number or tag " +
                  s"name, got '$v' (tags: " +
                  s"${CollectionMeta.readRefs(path).keys.toSeq.sorted.mkString(", ")})"))
        })
    // Batch changefeed window: `hadro.changesStart` restricts the scan to
    // records committed AFTER that version — `hadro.changesEnd` (or
    // versionAsOf) pins the other edge. The end edge rides the ordinary
    // snapshot pin; the start edge is a per-segment ordinal floor resolved
    // in [[HadroScan]] (append-only window proof lives there too).
    val changesEnd = resolveVersion("hadro.changesEnd")
    require(changesEnd.isEmpty || Option(options.get("hadro.versionAsOf")).isEmpty,
      "hadro: hadro.changesEnd and hadro.versionAsOf are the same pin — set one")
    // Timestamp form of the window floor (`hadro.changesStartTimestamp`,
    // epoch millis or ISO instant): "changes since <wall clock>" resolved
    // to the newest version committed AT OR BEFORE that instant — the
    // cron-style incremental consumer that remembers when it last ran,
    // not which version it read. Resolution is the TIMESTAMP AS OF
    // machinery, so retention fail-fast and edge semantics match.
    def instantMicros(raw: String): Long =
      try raw.toLong * 1000L // epoch millis
      catch {
        case _: NumberFormatException =>
          java.time.Instant.parse(raw).toEpochMilli * 1000L
      }
    val changesStartTs = Option(options.get("hadro.changesStartTimestamp"))
      .map { raw =>
        require(Option(options.get("hadro.changesStart")).isEmpty,
          "hadro: set hadro.changesStart OR hadro.changesStartTimestamp, not both")
        CollectionMeta.versionAsOfTimestamp(path, instantMicros(raw))
      }
    // Instant form of the snapshot pin (`hadro.timestampAsOf`) — the
    // option-surface twin of SQL `TIMESTAMP AS OF`, and (like changesEnd
    // ≡ versionAsOf) the timestamp form of a window's END edge.
    val tsPin = Option(options.get("hadro.timestampAsOf")).map { raw =>
      require(Option(options.get("hadro.versionAsOf")).isEmpty &&
        changesEnd.isEmpty,
        "hadro: hadro.timestampAsOf, hadro.versionAsOf and hadro.changesEnd " +
          "are the same snapshot pin — set one")
      CollectionMeta.versionAsOfTimestamp(path, instantMicros(raw))
    }
    // Stream resume by INSTANT (`hadro.startingTimestamp`, Delta's
    // startingTimestamp): "every change after the snapshot as of <ts>" —
    // resolved to the numeric resume point (snapshot version + 1) with
    // the same at-or-before edge and retention fail-fast as timestampAsOf.
    // Resolution is over committed history, so builder-time and
    // start-time resolution agree for any past instant.
    val startingTs = Option(options.get("hadro.startingTimestamp")).map { raw =>
      require(Option(options.get("hadro.startingVersion")).isEmpty,
        "hadro: set hadro.startingVersion OR hadro.startingTimestamp, not both")
      (CollectionMeta.versionAsOfTimestamp(path, instantMicros(raw)) + 1L).toString
    }
    new HadroScanBuilder(path, dataSchema,
      resolveVersion("hadro.versionAsOf").orElse(changesEnd).orElse(tsPin)
        .orElse(pinnedVersion),
      options.getOrDefault("hadro.onTruncate", "fail"),
      options.getLong("hadro.maxOrdinalsPerTrigger", 0L),
      Option(options.get("hadro.files"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty),
      Option(options.get("hadro.startingVersion")).orElse(startingTs),
      options.getLong("hadro.maxBytesPerTrigger", 0L),
      resolveVersion("hadro.changesStart").orElse(changesStartTs),
      Option(options.get("hadro.endingVersion")))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"hadro: ${name()} is a VERSION/TIMESTAMP AS OF snapshot — read-only")
    new HadroWriteBuilder(path, info, viaCatalog)
  }

  // ------------------------------------------------- SQL row-level DELETE
  // `DELETE FROM <catalog>.db.t WHERE ...` — strategy and cost model in
  // [[HadroDeleteSupport]]: keyed collections append tombstones (merge-on-
  // read, one commit, no rewrite); non-keyed collections rewrite only the
  // stats/bloom-affected segments via an atomic replace commit.
  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    HadroDeleteSupport.canDelete(predicates)

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    require(pinnedVersion.isEmpty,
      s"hadro: ${name()} is a VERSION/TIMESTAMP AS OF snapshot — read-only")
    HadroDeleteSupport.deleteWhere(path, predicates)
  }

  // -------------------------------------------- SQL row-level UPDATE/MERGE
  // `UPDATE ... SET ... WHERE` / `MERGE INTO` (and DELETEs whose predicate
  // canDeleteWhere declines, e.g. subqueries). Keyed collections get delta
  // merge-on-read appends; non-keyed get group-based stats-pruned
  // copy-on-write — strategy and cost model in [[HadroRowLevelOperationBuilder]].
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      s"hadro: ${name()} is a VERSION/TIMESTAMP AS OF snapshot — read-only")
    new HadroRowLevelOperationBuilder(path, info)
  }

  /** SQL `TRUNCATE TABLE`: one empty truncating commit through the normal
    * write path (cheaper and cleaner than the default all-rows delete). */
  override def truncateTable(): Boolean = {
    val spark = org.apache.spark.sql.SparkSession.active
    spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), dataSchema)
      .write.format("hadro").mode("overwrite").save(path.toString)
    true
  }
}

/** Scan builder with column pruning and filter pushdown. Filters are used
  * for manifest-stats segment skipping and evaluated best-effort per record;
  * they are also ALL returned as residual so Catalyst re-applies them —
  * the same contract Spark's parquet source uses (skipping is an
  * optimization, never a correctness dependency). */
/** `onlyFiles`: restrict the scan to the named segment files (the
  * `hadro.files` option) — the surgical-read primitive partial rewrites
  * (SQL DELETE copy-on-write, small-segment compaction) are built on.
  * Aggregate pushdown is disabled under it: manifest statistics describe
  * the WHOLE collection, not a file subset. */
final class HadroScanBuilder(path: Path, dataSchema: StructType,
    versionAsOf: Option[Long] = None, onTruncate: String = "fail",
    maxOrdinalsPerTrigger: Long = 0L, onlyFiles: Option[Set[String]] = None,
    startingVersion: Option[String] = None,
    maxBytesPerTrigger: Long = 0L,
    changesStart: Option[Long] = None,
    endingVersion: Option[String] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownOffset with SupportsPushDownTableSample {

  private var required: StructType = dataSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggResult: Option[(StructType, Array[InternalRow])] = None
  private var limit: Option[Int] = None
  private var topN: Option[(String, Boolean, Int)] = None
  private var offset: Option[Int] = None
  private var sample: Option[(Double, Double, Long)] = None

  // ------------------------------------------------- TABLESAMPLE pushdown
  // `TABLESAMPLE (p PERCENT) REPEATABLE (seed)` / df.sample(p, seed):
  // accepting is the FULLY-pushed contract — Spark deletes its Sample
  // operator — so the scan itself emits the sampled subset. The sampling
  // decision is a seeded hash of each record's stable sequence number
  // (`_hadro_seq` = segment ordinal << 40 | row index): membership in
  // [lower, upper) of XXH64(seq, seed) / 2^53. That makes the sample
  //   - LAYOUT-stable: independent of read parallelism, split ranges, and
  //     partition count (Spark's own Bernoulli sampler reseeds per
  //     partition index — repartitioning changes its output; ours never
  //     does), so a 1000-executor cluster and local[1] draw the SAME rows;
  //   - DECODE-skipping: a rejected row is frame-advanced, its payload is
  //     never field-decoded — a 1% sample of 100 TB pays full I/O but ~1%
  //     of decode CPU (columnar batching is disabled for sampled scans;
  //     the row reader's skip is what realizes the saving);
  //   - STRATIFIABLE: [0.0, 0.3) and [0.3, 0.5) from the same seed are
  //     disjoint, exactly like Spark's randomSplit contract.
  // This rule runs FIRST (before filter/aggregate/limit pushdown), so the
  // later hooks below decline whenever a sample is latched: a pushed
  // LIMIT's covering-prefix row accounting, top-N pruning bounds, OFFSET's
  // exact skip counts, and the manifest-answered aggregates all reason
  // over FULL live counts — each would be wrong on a sampled stream.
  // Declined for: replacement sampling (per-row Bernoulli can't emit
  // duplicates), changefeed windows and version-bounded replays (sampling
  // a CDC replay silently corrupts downstream merges), and rewrite-
  // primitive file-scoped scans.
  override def pushTableSample(lowerBound: Double, upperBound: Double,
      withReplacement: Boolean, seed: Long): Boolean = {
    if (withReplacement || changesStart.isDefined || endingVersion.isDefined ||
      onlyFiles.isDefined || startingVersion.isDefined) false
    else { sample = Some((lowerBound, upperBound, seed)); true }
  }

  // ------------------------------------------------------ offset pushdown
  // `OFFSET m` (pagination / resumable bulk export): accepting is the
  // FULLY-pushed contract — Spark deletes its Offset operator — so the
  // scan itself must emit exactly (scan output minus its first m rows).
  // Manifest live counts (rows - tombstones - dvDeletes) are exact, so
  // whole leading segments are skipped at PLANNING (at 100 TB, OFFSET 1e9
  // never opens the skipped terabytes) and the one boundary segment's
  // reader drops the residual rows. Declined whenever anything above
  // would re-shape the scan's output: pushed filters (residuals re-apply
  // post-scan), top-N (the sort runs above), aggregate pushdown. A pushed
  // LIMIT composes: the planned prefix covers limit + offset live rows.
  // A changes-window scan (`hadro.changesStart`) declines every
  // manifest-accounting pushdown (offset/limit/top-N/aggregate): those
  // plans reason over the WHOLE collection's live counts and stats, not
  // the window's segment subset — a CDC replay is a full window read
  // anyway, so nothing of value is lost.
  override def pushOffset(m: Int): Boolean = {
    if (m <= 0 || pushed.nonEmpty || topN.nonEmpty || aggResult.isDefined ||
      changesStart.isDefined || sample.isDefined) false
    else { offset = Some(m); true }
  }

  // ------------------------------------------------------- limit pushdown
  // `LIMIT n` with no filters needs only enough SEGMENTS to cover n live
  // rows — at 100 TB the difference between planning one input partition
  // and the whole corpus. Row-level early termination is free on top:
  // readers are pull-based, so Spark's LocalLimit stops consuming after n
  // rows per partition and later records are never decoded. Declined when
  // filters are pushed: they are re-applied by Spark AFTER the scan
  // (residual contract), so a row-capped plan could starve a filtered
  // limit of matches. isPartiallyPushed stays true (the default): Spark
  // keeps its own global limit, we only shrink what is read.
  override def pushLimit(l: Int): Boolean = {
    if (pushed.isEmpty && changesStart.isEmpty && sample.isEmpty) {
      limit = Some(l); true
    } else false
  }

  // ------------------------------------------------------- top-N pushdown
  // `ORDER BY c [ASC|DESC][, tiebreaks] LIMIT n`: accepted — partially, so
  // Spark keeps the authoritative sort+limit — whenever the LEADING sort
  // key is a plain orderable column and no filters are pushed. The scan
  // then plans only segments whose min/max range can intersect the true
  // top n (see [[HadroScan]]'s topNPrune for the bound argument) — on a
  // range-clustered collection, ORDER BY the cluster key LIMIT 100 over a
  // petabyte reads ~one segment. Pruning on the leading key alone is safe
  // for multi-key sorts: every row of a lexicographic top-n lies within
  // the leading key's top-n value bound; tiebreaks only reorder within it.
  // isPartiallyPushed = true also keeps the pushed-LIMIT contract (Spark
  // retains its global limit; we only shrink what is read).
  override def pushTopN(orders: Array[V2SortOrder], l: Int): Boolean = {
    if (pushed.nonEmpty || orders.isEmpty || l <= 0 ||
      changesStart.isDefined || sample.isDefined) return false
    val head = orders.head
    val colName = head.expression() match {
      case nr: NamedReference if nr.fieldNames.length == 1 => nr.fieldNames()(0)
      case _ => return false
    }
    val orderable = dataSchema.fields.find(_.name == colName)
      .exists(f => StatsCollector.isOrderable(f.dataType))
    if (!orderable) return false
    topN = Some((colName, head.direction() == SortDirection.ASCENDING, l))
    true
  }
  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    required =
      // `hadro.changefeed=full` surfaces `_hadro_deleted` as a REGULAR
      // schema column, and that column's presence in the read schema is
      // what keeps tombstone/CDC rows in the row set. Catalyst pruning
      // it away (a consumer that groups by key only, h92's semi-join)
      // must NOT silently flip the scan back to plain live-rows-only
      // semantics — row MEMBERSHIP would then depend on the projection.
      // Re-pin the column whenever the table was opened in changefeed
      // mode; Spark projects it back out above the scan.
      if (dataSchema.fieldNames.contains(HadroTable.DeletedCol) &&
          !requiredSchema.fieldNames.contains(HadroTable.DeletedCol))
        StructType(requiredSchema.fields :+ dataSchema(HadroTable.DeletedCol))
      else requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(SegmentSkipper.supports)
    filters // all residual: Spark re-evaluates post-scan (parquet-style)
  }
  override def pushedFilters(): Array[Filter] = pushed

  // ---------------------------------------------------- aggregate pushdown
  // Global COUNT(*)/COUNT(col)/MIN/MAX answered straight from manifest
  // statistics — at 100 TB the difference between a metadata read and a
  // cluster-wide scan. Only COMPLETE pushdown is offered, and only when the
  // manifest is authoritative: never-mutated collection (no tombstones or
  // shadowed versions), no filters, no grouping. Everything else keeps the
  // normal scan path.
  // Side-effect-free probe: Spark may call this without (or before) a
  // matching pushAggregation, so only pushAggregation may latch state —
  // otherwise build() could return the single-row agg scan for a plain scan.
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    onlyFiles.isEmpty && changesStart.isEmpty && endingVersion.isEmpty &&
      sample.isEmpty &&
      HadroAggPushdown.plan(path, versionAsOf, aggregation, dataSchema, pushed).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // Assignment (not |=) so a failed plan also RESETS any earlier latch.
    aggResult =
      // manifest stats cover the whole collection, not a file/window
      // subset; an endingVersion scan must reach toBatch's stream-only
      // guard instead of silently answering from the manifest
      // a pushed SAMPLE means the scan's output is a subset of the rows
      // the manifest counts — COUNT(*) over TABLESAMPLE must never be
      // answered from whole-collection statistics
      if (onlyFiles.isDefined || changesStart.isDefined ||
        endingVersion.isDefined || sample.isDefined) None
      else HadroAggPushdown.plan(path, versionAsOf, aggregation, dataSchema, pushed)
    aggResult.isDefined
  }

  override def build(): Scan = aggResult match {
    case Some((aggSchema, rows)) => new HadroLocalAggScan(path, aggSchema, rows)
    case None =>
      new HadroScan(path, dataSchema, required, pushed, versionAsOf, onTruncate,
        maxOrdinalsPerTrigger, limit, onlyFiles, topN, offset, startingVersion,
        maxBytesPerTrigger, changesStart, endingVersion, sample)
  }
}

/** Completely-pushed-down aggregate over a hadro collection: the result
  * rows (one for a global aggregate, one per group for a GROUP BY on a
  * provably single-valued-per-segment column) are computed on the DRIVER
  * from manifest statistics alone (no segment file is opened, no executor
  * task runs — Spark plans a LocalTableScan). Only built when
  * [[HadroAggPushdown.plan]] proved the manifest exact. */
final class HadroLocalAggScan(path: Path, aggSchema: StructType,
    resultRows: Array[InternalRow]) extends LocalScan {
  override def readSchema(): StructType = aggSchema
  override def rows(): Array[InternalRow] = resultRows
  override def description(): String =
    s"hadro manifest-aggregate $path -> [${aggSchema.fieldNames.mkString(", ")}]"
}

/** Decides whether an [[Aggregation]] can be answered EXACTLY from manifest
  * stats, and computes the result rows if so. Strictly conservative: any
  * filter, mutation, distinct, missing stat, or inexact type returns None
  * and the normal scan runs.
  *
  * GROUP BY pushdown: a GROUP BY (one or more columns) is answerable when
  * every live segment is provably SINGLE-VALUED on every group column
  * (exact zero-null min == max stats — the identity-partitioned layout's
  * steady state, and equally any value-routed or exactly-clustered
  * collection). Segments then group by their value vector and each group
  * folds the same per-segment statistics the global path uses. At 100 TB this turns the
  * canonical per-partition rollup (`SELECT region, COUNT(*), SUM(x) GROUP
  * BY region`) into a manifest read — zero tasks, zero bytes scanned —
  * with driver work and result size bounded by the segment count. The
  * proof is stats-based, never tag-based, so it survives partition-spec
  * respecs and holds for unpartitioned-but-clustered layouts. */
object HadroAggPushdown {
  def plan(path: Path, versionAsOf: Option[Long], agg: Aggregation,
      schema: StructType, pushedFilters: Array[Filter]): Option[(StructType, Array[InternalRow])] = {
    if (pushedFilters.nonEmpty) return None
    val manifest =
      try versionAsOf.map(v => CollectionMeta.manifestAt(path, v))
        .getOrElse(CollectionMeta.currentManifest(path))
      catch { case _: Exception => return None }
    // Mutated collections have tombstones/shadowed versions the stats count;
    // only the resolved view (a real scan) is correct then.
    if (manifest.mutated) return None
    val live = manifest.segments.filter(_.rows > 0)

    def fieldOf(e: V2Expression): Option[(StructField, Int)] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        val i = schema.fieldNames.indexOf(nr.fieldNames()(0))
        if (i >= 0) Some((schema.fields(i), i)) else None
      case _ => None
    }
    // Additive evolution: a segment written before the column existed holds
    // only nulls for it (manifest nFields is the write-time width).
    def presentIn(seg: SegmentInfo, ordinal: Int): Boolean =
      seg.nFields.forall(ordinal < _)

    agg.groupByExpressions.toSeq match {
      case Nil =>
        computeAggs(agg, schema, live, fieldOf, presentIn)
          .map { case (st, vals) =>
            (st, Array[InternalRow](new GenericInternalRow(vals)))
          }
      case gs =>
        val groupFields: Seq[(StructField, Int)] = gs.map { g =>
          val (gf, gOrd) = fieldOf(g).getOrElse(return None)
          gf.dataType match {
            // float/double: -0.0/NaN grouping semantics are engine-subtle
            case FloatType | DoubleType => return None
            case dt if !StatsCollector.isOrderable(dt) => return None
            case _ =>
          }
          (gf, gOrd)
        }
        // every live segment must prove single-valued on EVERY group
        // column: exact zero-null min == max (compared as rendered
        // strings — exact renders are injective, so equal strings ==
        // equal values). Multi-column grouping needs no cross-column
        // proof: a segment single-valued on each column holds exactly one
        // combination, so segments group by their rendered value vector.
        val keyed: Seq[(Seq[String], SegmentInfo)] = live.map { s =>
          val key = groupFields.map { case (gf, gOrd) =>
            if (!presentIn(s, gOrd)) return None
            val st = s.stats.getOrElse(gf.name, return None)
            if (!st.exact || st.nullCount != 0L) return None
            val mn = st.min.getOrElse(return None)
            val mx = st.max.getOrElse(return None)
            if (mn != mx) return None
            mn
          }
          (key, s)
        }
        // schema is value-independent: derive it once from the empty fold
        val (aggSchema, _) =
          computeAggs(agg, schema, Seq.empty, fieldOf, presentIn)
            .getOrElse(return None)
        val outSchema = StructType(
          groupFields.map { case (gf, _) =>
            StructField(gf.name, gf.dataType, nullable = false)
          } ++ aggSchema.fields)
        val rows = keyed.groupBy(_._1).toSeq
          .sortBy(_._1.mkString("\u0000"))
          // SQL GROUP BY never emits a group with no surviving rows: a
          // partition whose every row is deletion-vectored (or whose
          // segments hold only tombstones) must vanish, not report 0s
          .filter { case (_, ss) =>
            ss.map { case (_, s) => s.rows - s.tombstones - s.dvDeletes }.sum > 0
          }
          .map { case (rendered, ss) =>
            val vs = rendered.zip(groupFields).map { case (r, (gf, _)) =>
              val v = StatsCollector.parse(r, gf.dataType)
              if (v == null) return None
              v
            }
            val (_, vals) =
              computeAggs(agg, schema, ss.map(_._2), fieldOf, presentIn)
                .getOrElse(return None)
            new GenericInternalRow((vs ++ vals.toSeq).toArray): InternalRow
          }
        Some((outSchema, rows.toArray))
    }
  }

  /** Folds the aggregate list over `live`'s statistics; None = any
    * aggregate the manifest cannot answer exactly. */
  private def computeAggs(agg: Aggregation, schema: StructType,
      live: Seq[SegmentInfo],
      fieldOf: V2Expression => Option[(StructField, Int)],
      presentIn: (SegmentInfo, Int) => Boolean): Option[(StructType, Array[Any])] = {

    // Deletion vectors make per-column stats inexact (nullCount and
    // min/max were computed over rows some of which are now deleted):
    // only COUNT(*) stays answerable — the vector cardinality is exact.
    val hasDv = live.exists(_.dvDeletes > 0)

    def countCol(f: StructField, ord: Int): Option[Long] = {
      if (hasDv) return None
      // Column added with a DEFAULT: pre-column segments read the constant
      // back, so every one of their rows is non-null for COUNT(col).
      val dflt = graft.meta.CollectionMeta.defaultValueOf(f)
      var total = 0L
      live.foreach { s =>
        if (presentIn(s, ord)) s.stats.get(f.name) match {
          case Some(st) => total += s.rows - st.nullCount
          case None => return None
        } else if (dflt.isDefined) total += s.rows
      }
      Some(total)
    }

    // Exact only for non-floating orderable types: stats render/parse
    // round-trips exactly, but -0.0/NaN ordering for float/double is
    // engine-subtle, so those take the scan path.
    def minMax(f: StructField, ord: Int, wantMin: Boolean): Option[Option[Any]] = {
      if (hasDv) return None // the extremum row may be vector-deleted
      f.dataType match {
        case FloatType | DoubleType => return None
        case dt if !StatsCollector.isOrderable(dt) => return None
        case _ =>
      }
      // Column added with a DEFAULT: pre-column segments contribute the
      // frozen constant to the extremum (their rows all read it back).
      val dflt = graft.meta.CollectionMeta.defaultValueOf(f)
      var acc: Any = null
      def fold(v: Any): Unit =
        if (acc == null ||
            (if (wantMin) StatsCollector.lt(v, acc) else StatsCollector.lt(acc, v)))
          acc = v
      live.foreach { s =>
        if (presentIn(s, ord)) s.stats.get(f.name) match {
          case Some(st) =>
            // truncated (long-string) bounds are conservative, not the
            // true extrema — pruning may use them, aggregates must not
            if (!st.exact) return None
            (if (wantMin) st.min else st.max) match {
              case Some(rendered) =>
                val v = StatsCollector.parse(rendered, f.dataType)
                if (v == null) return None
                fold(v)
              case None => // no bound recorded: fine only if the segment is all-null
                if (st.nullCount < s.rows) return None
            }
          case None => return None
        } else dflt.foreach(fold)
      }
      Some(Option(acc))
    }

    // Exact SUM from the per-segment integral sums recorded at write time
    // (overflow-safe BigInteger fold). SQL semantics: all-null/empty input
    // sums to NULL. Declines on: non-integral type, any live segment
    // missing a recorded sum while holding values (legacy), deletion
    // vectors (the summed rows may be gone), or a total outside Long range
    // (the scan path's ANSI behavior must decide overflow, not metadata).
    def sumCol(f: StructField, ord: Int): Option[Option[Long]] = {
      if (hasDv) return None
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case _ => return None
      }
      val dflt = graft.meta.CollectionMeta.defaultValueOf(f)
      var total = java.math.BigInteger.ZERO
      var sawValue = false
      live.foreach { s =>
        if (presentIn(s, ord)) s.stats.get(f.name) match {
          case Some(st) => st.sum match {
            case Some(rendered) =>
              total = total.add(new java.math.BigInteger(rendered))
              if (st.nullCount < s.rows) sawValue = true
            case None =>
              // legacy segment: only safe when it is provably all-null
              if (st.nullCount < s.rows) return None
          }
          case None => return None
        } else dflt match {
          // column added with a DEFAULT: pre-column rows read the constant
          case Some(n: java.lang.Number) =>
            total = total.add(java.math.BigInteger.valueOf(n.longValue())
              .multiply(java.math.BigInteger.valueOf(s.rows)))
            if (s.rows > 0) sawValue = true
          case Some(_) => return None
          case None => () // nulls contribute nothing
        }
      }
      if (total.bitLength() > 62) return None
      Some(if (sawValue) Some(total.longValueExact) else None)
    }

    val planned: Seq[Option[(StructField, Any)]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some((StructField("count_star", LongType, nullable = false),
          live.map(s => s.rows - s.tombstones - s.dvDeletes).sum: Any))
      case c: Count if !c.isDistinct =>
        fieldOf(c.column).flatMap { case (f, ord) =>
          countCol(f, ord).map(n =>
            (StructField(s"count_${f.name}", LongType, nullable = false), n: Any))
        }
      case m: Min =>
        fieldOf(m.column).flatMap { case (f, ord) =>
          minMax(f, ord, wantMin = true).map(v =>
            (StructField(s"min_${f.name}", f.dataType, nullable = true), v.orNull: Any))
        }
      case m: Max =>
        fieldOf(m.column).flatMap { case (f, ord) =>
          minMax(f, ord, wantMin = false).map(v =>
            (StructField(s"max_${f.name}", f.dataType, nullable = true), v.orNull: Any))
        }
      case s: Sum if !s.isDistinct =>
        fieldOf(s.column).flatMap { case (f, ord) =>
          sumCol(f, ord).map(v =>
            // integral SUM surfaces as LongType — catalyst Sum's result
            // type for every integral input, so complete pushdown lines up
            (StructField(s"sum_${f.name}", LongType, nullable = true), v.orNull: Any))
        }
      case a: Avg if !a.isDistinct =>
        // exact integral sum / exact non-null count, divided in double —
        // the same two-longs division catalyst's Avg performs, bit-equal
        fieldOf(a.column).flatMap { case (f, ord) =>
          for {
            sumOpt <- sumCol(f, ord)
            n <- countCol(f, ord)
          } yield (StructField(s"avg_${f.name}", DoubleType, nullable = true),
            sumOpt.filter(_ => n > 0)
              .map(s => java.lang.Double.valueOf(s.toDouble / n.toDouble))
              .orNull: Any)
        }
      case _ => None
    }
    if (planned.isEmpty || planned.exists(_.isEmpty)) return None
    Some((StructType(planned.map(_.get._1)), planned.map(_.get._2).toArray))
  }
}

final class HadroScan(path: Path, dataSchema: StructType, required: StructType,
    pushed: Array[Filter], versionAsOf: Option[Long] = None,
    onTruncate: String = "fail", maxOrdinalsPerTrigger: Long = 0L,
    pushedLimit: Option[Int] = None, onlyFiles: Option[Set[String]] = None,
    pushedTopN: Option[(String, Boolean, Int)] = None,
    pushedOffset: Option[Int] = None,
    startingVersion: Option[String] = None,
    maxBytesPerTrigger: Long = 0L,
    changesStart: Option[Long] = None,
    endingVersion: Option[String] = None,
    pushedSample: Option[(Double, Double, Long)] = None)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning with SupportsReportOrdering {

  // ---------------------------------------------------- ordering report
  /** Per-partition ordering: when the manifest records a declared physical
    * sort (single-column cluster() rewrite / `hadro.sortedBy` writes),
    * every segment's rows — and therefore every input partition, since a
    * partition is a single in-order split range of one segment — are
    * ordered by that column. Spark's RemoveRedundantSorts then drops
    * sorts the storage already paid for (sortWithinPartitions, sort-merge
    * requirements after co-partitioning).
    *
    * In bucket-grouped (SPJ) mode Spark coalesces all of a bucket's
    * partitions into ONE read group, and two sorted runs concatenated are
    * not sorted — so there the ordering is reported ONLY when every
    * planned bucket is a single unsplit segment (one in-order run per
    * group). That is the bucketed-AND-sorted layout contract: co-bucketed
    * co-sorted collections then sort-merge join with zero exchanges AND
    * zero sorts — the 100 TB fact-fact join at its floor cost. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    manifestSnapshot.sortedBy match {
      case Some(c) if required.fieldNames.contains(c) =>
        val safe = bucketedFor(manifestSnapshot, staticPlanned) match {
          case None => identityStatic match {
            // identity-grouped mode coalesces a value's partitions the
            // same way buckets do: report ordering only when every value
            // group is ONE unsplit segment (one in-order run per group)
            case Some((_, _, keys)) =>
              val planned = staticPlanned
              planned.forall(_.splits.isEmpty) &&
                keys.values.toSeq.distinct.size == planned.size
            case None => true
          }
          case Some(_) =>
            val planned = staticPlanned
            planned.forall(_.splits.isEmpty) &&
              planned.flatMap(_.bucket).distinct.size == planned.size
        }
        if (safe) {
          // COMPOSITE report: when every planned segment carries the same
          // writer-VERIFIED multi-column sort tuple (SegmentInfo.sortCols,
          // poisoned on any out-of-order row) whose leading column is the
          // manifest declaration, report the longest prefix surviving
          // column pruning — sortWithinPartitions(a, b) and merge-sort
          // requirements on the full (tenant, ts) order are then planned
          // away, not just the leading column's. Falls back to the
          // leading-column report when segments disagree or were written
          // under a single-column spec.
          val cols: Seq[String] = staticPlanned.map(_.sortCols).distinct match {
            case Seq(Some(l)) =>
              val cs = l.split(",").toSeq
              if (cs.headOption.contains(c))
                cs.takeWhile(required.fieldNames.contains)
              else Seq(c)
            case _ => Seq(c)
          }
          cols.map(cc => Expressions.sort(Expressions.column(cc),
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
            .toArray
        } else Array.empty
      case _ => Array.empty
    }

  // -------------------------------------------------- runtime filtering
  // Dynamic-pruning predicates (the IN set a completed broadcast/subquery
  // produced at RUNTIME, after static planning) re-prune segments through
  // the same stats/bloom/offset-index machinery as static pushdown: a
  // runtime filter on the join key skips whole segments at the source, not
  // just rows after the scan. Every column is filterable — min/max stats
  // cover all orderable columns and blooms cover the key.
  private var runtimeFilters: Array[Filter] = Array.empty

  // Only columns in THIS scan's (pruned) output: Spark resolves these refs
  // against the scan output and fails on pruned-away names.
  override def filterAttributes(): Array[NamedReference] =
    required.fieldNames.filterNot(HadroTable.MetaColNames)
      .map(Expressions.column)

  override def filter(predicates: Array[Predicate]): Unit =
    // Conservative: predicates that don't translate (or that SegmentSkipper
    // can't use) are dropped — Spark re-applies the actual join, so runtime
    // pruning is only ever an optimization.
    runtimeFilters = predicates.flatMap(HadroScan.toV1Filter)
      .filter(SegmentSkipper.supports(_))

  private def effectiveFilters: Array[Filter] = pushed ++ runtimeFilters

  override def readSchema(): StructType = required
  override def toBatch: Batch = {
    require(endingVersion.isEmpty,
      "hadro: hadro.endingVersion bounds a STREAM replay — a batch read " +
        "pins its end with hadro.changesEnd or hadro.versionAsOf")
    this
  }
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(onlyFiles.isEmpty,
      "hadro: hadro.files is a batch-rewrite primitive, not a stream source option")
    require(changesStart.isEmpty,
      "hadro: hadro.changesStart is the BATCH changes window — a stream " +
        "replays from a version with hadro.startingVersion instead")
    validateAgainstStored()
    new HadroMicroBatchStream(path, storedSchema, required, onTruncate,
      maxOrdinalsPerTrigger, startingVersion, maxBytesPerTrigger,
      endingVersion)
  }
  override def description(): String =
    s"hadro collection $path, PushedFilters: [${pushed.mkString(", ")}]" +
      pushedLimit.map(n => s", PushedLimit: $n").getOrElse("") +
      pushedTopN.map { case (c, asc, n) =>
        s", PushedTopN: $c ${if (asc) "ASC" else "DESC"} LIMIT $n"
      }.getOrElse("") +
      pushedOffset.map(m => s", PushedOffset: $m").getOrElse("") +
      pushedSample.map { case (lo, hi, seed) =>
        s", PushedSample: [$lo, $hi) seed=$seed"
      }.getOrElse("")

  // Decode ALWAYS uses the stored on-disk schema; a user-supplied read
  // schema is only a projection request resolved by NAME. Types must agree
  // or the scan fails fast instead of decoding garbage.
  private lazy val storedSchema: StructType =
    CollectionMeta.readSchema(path).map(_.schema).getOrElse(dataSchema)

  private def validateAgainstStored(): Unit =
    required.fields.filterNot(f => HadroTable.MetaColNames(f.name)).foreach { f =>
      val sf = storedSchema.fields.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(
          s"hadro: column '${f.name}' not in collection schema ${storedSchema.simpleString}"))
      require(sf.dataType == f.dataType,
        s"hadro: column '${f.name}' requested as ${f.dataType.simpleString} " +
          s"but stored as ${sf.dataType.simpleString}")
    }

  /** ONE manifest version for every planning entry point of this scan —
    * estimateStatistics, outputPartitioning, planInputPartitions, and
    * Spark's post-runtime-filter re-plan each enter independently, and a
    * concurrent commit landing between two of those calls would make the
    * reported KeyGroupedPartitioning disagree with the planned partitions
    * (Spark rejects that with "must preserve the original partitioning").
    * The first entry point pins the version; versionAsOf scans are pinned
    * by construction. Time travel: a snapshot is just an older manifest —
    * segment files are immutable and appends never rewrite them, so any
    * retained version reconstructs its exact state. */
  private[spark] lazy val manifestSnapshot: Manifest = versionAsOf
    .map(v => CollectionMeta.manifestAt(path, v))
    .getOrElse(CollectionMeta.currentManifest(path))

  /** Batch changefeed window floor: with `hadro.changesStart = v`, only
    * records committed AFTER version v are scanned — the batch twin of the
    * streaming source's `startingVersion` replay, bounded by this scan's
    * snapshot pin (`hadro.changesEnd` / current). Sound only while the
    * window is APPEND-SHAPED, proved against the start manifest:
    *   - same generation (any truncate/compaction/overwrite renumbers the
    *     ordinal space — a window across it is meaningless),
    *   - every start-side file still live at the end (a metadata-only
    *     partition drop removes rows without an ordinal event),
    *   - deletion-vector drift on surviving files (dv deletes are
    *     row-level erasures, not appended tombstones — invisible to an
    *     ordinal window) is allowed ONLY in changefeed (full) mode, where
    *     the drift is SYNTHESIZED into `_change`-style DELETE rows: one
    *     [[DvDeltaPartition]] per affected split range emits the rows in
    *     (end vector minus start vector) flagged `_hadro_deleted = true`
    *     (Delta CDF's synthesized deletes, from the window's manifest
    *     pair). A plain window scan cannot represent a deletion, so it
    *     keeps the refusal and points at changefeed=full.
    * Upserts and keyed tombstone deletes ARE ordinal appends, so they
    * replay exactly; compose with `hadro.changefeed=full` to see them as
    * CDC rows. Rows BOTH appended and dv-deleted inside the window net
    * out (the in-window segments are read with the end manifest's
    * vectors): the window is the NET change set, never a delete for a row
    * the consumer never saw. Planning cost is O(#segments) manifest work —
    * at 100 TB an incremental consumer reads only the window's segments
    * plus the drifted blocks, never the table. */
  /** Planned shape of a batch changes window: exactly one of `floor`
    * (ordinal fast path — generation unchanged) or `includeFiles` (the
    * manifest-chain walk across data-preserving rewrites) is set, plus
    * the synthesized-delete emissions shared by both. */
  private case class WindowPlan(
      floor: Option[Long],
      includeFiles: Option[Set[String]],
      drift: Seq[(SegmentInfo, Option[String])],
      dropped: Seq[SegmentInfo])

  private lazy val changesWindowInfo: Option[WindowPlan] =
    changesStart.map { v =>
      val end = manifestSnapshot
      val start = CollectionMeta.manifestMetaAt(path, v)
      require(start.version <= end.version,
        s"hadro: changes window ($v, ${end.version}] is inverted — " +
          "changesStart must not exceed changesEnd/versionAsOf")
      val wantDeleted = required.fieldNames.contains(HadroTable.DeletedCol)
      def requireFeed(fileName: String, what: String): Unit =
        require(wantDeleted,
          s"hadro: changes window ($v, ${end.version}] — segment " +
            s"$fileName $what inside the window; that removal is not an " +
            "ordinal event. Read the window with hadro.changefeed=full " +
            "to see it as synthesized CDC delete rows, or replay from a " +
            "full snapshot")
      // synthesized deletes read SUPERSEDED bytes (dropped segments, dv
      // sidecars): deferred GC keeps them one maintenance cycle, but a
      // later sweep/vacuum may have reclaimed them — fail at PLAN time
      // with the recovery path, never with a task FileNotFoundException
      def requireBytes(plan: WindowPlan): WindowPlan = {
        val needed =
          plan.drift.flatMap { case (seg, base) =>
            Seq(seg.file) ++ seg.deleteVector ++ base } ++
          plan.dropped.flatMap(s => Seq(s.file) ++ s.deleteVector)
        needed.foreach { f =>
          require(java.nio.file.Files.exists(path.resolve(f)),
            s"hadro: changes window ($v, ${end.version}] — its synthesized " +
              s"delete rows need $f, whose bytes were already reclaimed " +
              "(deferred GC / vacuum); replay from a full snapshot instead")
        }
        plan
      }
      if (start.generation == end.generation) {
        // fast path: the ordinal space is intact, so the window is the
        // ordinal floor plus per-file drift/drop against the start set
        val endByFile = end.segments.map(s => s.file -> s).toMap
        val drift = Seq.newBuilder[(SegmentInfo, Option[String])]
        val dropped = Seq.newBuilder[SegmentInfo]
        start.segments.foreach { s =>
          endByFile.get(s.file) match {
            case None => // the whole segment vanished (drop_partitions)
              requireFeed(s.file, "was dropped (drop_partitions)")
              dropped += s
            case Some(live) if live.deleteVector != s.deleteVector =>
              requireFeed(s.file,
                "gained row-level (deletion-vector) deletes")
              drift += ((live, s.deleteVector))
            case _ => ()
          }
        }
        requireBytes(WindowPlan(Some(start.nextOrdinal), None,
          drift.result(), dropped.result()))
      } else {
        // the window crosses one or more generation changes: delegate to
        // the shared chain walk (also used by the streaming source), then
        // re-verify superseded bytes for this plan's synthesized deletes
        def refuse(why: String): Nothing =
          throw new graft.meta.ChangeWindowCompactedException(
            s"hadro: changes window ($v, ${end.version}] crosses a " +
              s"generation change that is not a provable data-preserving " +
              s"compaction — $why; replay from a full snapshot instead")
        val net = ChangeWindowPlanner.chainWalk(
          path, start, end, requireFeed, refuse)
        requireBytes(WindowPlan(None, Some(net.includeFiles),
          net.drift, net.dropped))
      }
    }

  /** Synthesized CDC DELETE partitions for the window's dv drift (block-
    * pruned to ranges that actually hold newly-deleted rows) and for
    * whole segments dropped inside the window (drop_partitions — every
    * start-live row emitted as a delete). Empty for non-window scans and
    * unchanged windows. */
  private lazy val dvDeltaParts: Seq[InputPartition] =
    changesWindowInfo.map(_.drift).getOrElse(Nil)
      .flatMap { case (seg, base) => HadroInputPartition.dvDeltaRanges(path, seg, base) } ++
      changesWindowInfo.map(_.dropped).getOrElse(Nil)
        .flatMap(seg => HadroInputPartition.dropRanges(path, seg))

  /** The post-pruning segment list (and its manifest) — shared by
    * planInputPartitions and outputPartitioning so the reported
    * partitioning always describes the partitions actually planned. */
  private def plannedSegments(
      filters: Array[Filter]): (Manifest, Seq[SegmentInfo]) = {
    val manifest = manifestSnapshot
    val survivors = manifest.segments
      .filter(seg => changesWindowInfo.forall(w =>
        w.includeFiles.map(_.contains(seg.file))
          .getOrElse(seg.ordinal >= w.floor.getOrElse(0L))))
      .filter(seg => onlyFiles.forall(_.contains(seg.file)))
      .filter(seg => SegmentSkipper.mightMatch(seg, filters, storedSchema) &&
        // composite write-order bounds exclude tombstone records, so a
        // raw/changefeed scan (which emits them) must not prune by them
        (required.fieldNames.contains(HadroTable.DeletedCol) ||
          SegmentSkipper.compositeMightMatch(seg, filters, storedSchema)) &&
        BloomSidecar.mightMatch(path, seg, filters, storedSchema) &&
        BloomSidecar.compositeMightMatch(path, seg, manifest.indexes, filters, storedSchema))
    // Pushed limit, no filters (static or runtime): only the segment
    // PREFIX covering `limit` live rows is planned — LIMIT 10 over a
    // petabyte collection reads one segment. With filters present the
    // full survivor set stays (rows are re-filtered post-scan, so any
    // segment might be needed to fill the limit).
    val planned = (pushedLimit, filters.isEmpty) match {
      case (Some(n), true) =>
        // a pushed offset consumes its own rows before the limit bites,
        // so the planned prefix must cover limit + offset live rows
        val cover = n.toLong + pushedOffset.getOrElse(0)
        var acc = 0L
        survivors.takeWhile { seg =>
          val need = acc < cover; acc += seg.rows - seg.tombstones - seg.dvDeletes; need
        }
      case (None, true) => topNPrune(manifest, survivors)
      case _ => survivors
    }
    (manifest, planned)
  }

  /** Top-N zone-map pruning: for `ORDER BY c [ASC|DESC] LIMIT n` with no
    * filters over a never-mutated collection, only segments whose value
    * range can intersect the true top n need planning. Greedily take
    * segments by best bound in sort direction until their live rows cover
    * n; the worst bound seen is then an upper bound on the n-th value in
    * sort order, so any segment whose best bound lies STRICTLY beyond it
    * cannot hold a top-n row. Spark recomputes the exact top-n from what
    * remains (isPartiallyPushed), so pruning is only ever an optimization.
    * On a range-clustered collection (cluster() / sortedBy) segment ranges
    * are disjoint and the kept set is ~ceil(n / rowsPerSegment): LIMIT 100
    * over a petabyte reads one segment. Unsorted layouts prune by whatever
    * their min/max happen to be — still correct, possibly no savings.
    * Conservative keeps: mutated collections (LWW/tombstones could hollow
    * out the covering prefix) prune nothing; segments with nulls in the
    * sort column, missing stats (additive schema evolution), or unparsable
    * bounds are always kept — nulls sort first or last by Spark's choice,
    * and keeping a segment is correct under either. -0.0 folds to 0.0 so
    * the cutoff comparison can never disagree with Spark's ordering (which
    * treats them equal); NaN sorts after +Inf in both orderings. */
  private def topNPrune(manifest: Manifest,
      survivors: Seq[SegmentInfo]): Seq[SegmentInfo] = pushedTopN match {
    case Some((colName, asc, n)) if !manifest.mutated =>
      val dt = storedSchema.fields.find(_.name == colName) match {
        case Some(f) => f.dataType
        case None => return survivors
      }
      def norm(v: Any): Any = v match {
        case d: java.lang.Double => java.lang.Double.valueOf(d.doubleValue + 0.0d)
        case f: java.lang.Float => java.lang.Float.valueOf(f.floatValue + 0.0f)
        case x => x
      }
      // (best, worst) bound of each segment in sort direction.
      val bounded = survivors.map { seg =>
        val b = for {
          st <- seg.stats.get(colName)
          if st.nullCount == 0
          mnS <- st.min; mxS <- st.max
          mn = norm(StatsCollector.parse(mnS, dt))
          mx = norm(StatsCollector.parse(mxS, dt))
          if mn != null && mx != null
        } yield if (asc) (mn, mx) else (mx, mn)
        (seg, b)
      }
      val keyed = bounded.collect { case (seg, Some((best, worst))) => (seg, best, worst) }
      def before(a: Any, b: Any): Boolean =
        if (asc) StatsCollector.lt(a, b) else StatsCollector.lt(b, a)
      var acc = 0L
      var cutoff: Any = null
      keyed.sortWith((a, b) => before(a._2, b._2)).foreach { case (seg, _, worst) =>
        if (acc < n) {
          acc += seg.rows - seg.dvDeletes // live rows only (mutated is gated off)
          if (cutoff == null || before(cutoff, worst)) cutoff = worst
        }
      }
      if (acc < n) survivors // bounded rows can't guarantee covering n
      else {
        val dropped = keyed.collect {
          case (seg, best, _) if before(cutoff, best) => seg.file
        }.toSet
        survivors.filterNot(s => dropped(s.file))
      }
    case _ => survivors
  }

  /** Statically-planned segments (pushed filters + limit prefix only),
    * computed ONCE: outputPartitioning, planInputPartitions, and the
    * runtime-filter re-plan all consult this same list. */
  private lazy val staticPlanned: Seq[SegmentInfo] = plannedSegments(pushed)._2

  override def planInputPartitions(): Array[InputPartition] = {
    validateAgainstStored()
    // When this scan REPORTS KeyGroupedPartitioning, Spark requires the
    // runtime-filtered partition set to reproduce the reported groups —
    // dropping a whole bucket via a runtime filter would make
    // BatchScanExec fail with "must preserve the original partitioning".
    // So: if the STATICALLY-planned set is reported as bucketed, runtime
    // filters skip SEGMENT pruning (rows are still re-filtered post-scan;
    // runtime pruning is only ever an optimization). Static pushed
    // filters are identical at report time and plan time, so they are
    // always safe to prune with.
    val (manifestStatic, plannedStatic) = (manifestSnapshot, staticPlanned)
    // A pushed OFFSET owns exact row accounting over the planned prefix:
    // runtime segment pruning and bucket-keyed reporting are both skipped
    // (pruning would change which rows exist to skip; reported groups
    // would not survive the dropped leading segments). Offset queries are
    // pagination reads — neither optimization is load-bearing there.
    pushedOffset.map(_.toLong).filter(_ > 0) match {
      case Some(off) =>
        metricSegmentsRead = 0L
        metricSegmentsPruned = 0L
        metricBytesPlanned = 0L
        var remaining = off
        val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
        // a changefeed (raw) scan EMITS tombstone records, so its
        // emittable count per segment must include them — the reader's
        // skip counts emitted rows, and both sides must agree exactly
        val emitsTombstones = required.fieldNames.contains(HadroTable.DeletedCol)
        plannedStatic.foreach { seg =>
          val live = seg.rows - seg.dvDeletes -
            (if (emitsTombstones) 0L else seg.tombstones)
          if (remaining >= live) {
            remaining -= live // wholly inside the offset: never opened
            metricSegmentsPruned += 1
          } else if (remaining > 0) {
            // boundary segment: ONE unsplit partition whose reader drops
            // the residual live rows before emitting
            out += HadroInputPartition(path.resolve(seg.file).toString,
              seg.ordinal, 0L, 0L, -1L, seg.nFields.getOrElse(-1),
              seg.deleteVector, HadroInputPartition.typesOf(seg), remaining)
            remaining = 0
            metricSegmentsRead += 1
            metricBytesPlanned += seg.bytes
          } else {
            out ++= HadroInputPartition.ranges(path, seg)
            metricSegmentsRead += 1
            metricBytesPlanned += seg.bytes
          }
        }
        // dv-drift CDC deletes ride along unconditionally: OFFSET
        // accounting applies to the window's ordinal (insert) rows; the
        // synthesized delete set is not pageable and is never dropped
        out ++= dvDeltaParts
        return out.toArray
      case None => ()
    }
    val bucketed = bucketedFor(manifestStatic, plannedStatic)
    val identityKeyed =
      if (bucketed.isDefined) None else identityStatic
    val reporting = bucketed.isDefined || identityKeyed.isDefined
    // with no runtime filter the effective filters ARE the pushed ones,
    // so the memoized static plan is the answer (no second stats/bloom
    // pass over every live segment)
    val (manifest, planned) =
      if (reporting || runtimeFilters.isEmpty) (manifestStatic, plannedStatic)
      else plannedSegments(effectiveFilters)
    val filters = effectiveFilters
    // Operability at scale: a 100 TB scan's health is "how much did
    // pruning save" — surfaced as DSv2 custom metrics in the SQL UI
    // (reported from the driver after planning; see reportDriverMetrics).
    metricSegmentsRead = planned.size.toLong
    metricSegmentsPruned = (manifest.segments.size - planned.size).toLong
    metricBytesPlanned = planned.map(_.bytes).sum
    metricBlocksPruned = 0L
    planned
      .flatMap { seg =>
        // Point predicates on the key column consult the persisted
        // key→offset index: read ONLY the matching records (one
        // single-record range each), or skip the segment entirely on an
        // exact miss. Falls back to full split-range scanning otherwise.
        // Bypassed while REPORTING partitioning: an exact miss would drop
        // a bucket's partitions after the group count was reported.
        // Block-level pruning is likewise bypassed while REPORTING
        // partitioning: dropping every block of a bucket's only segment
        // would erase a reported group (same constraint as runtime
        // segment pruning above).
        val parts = (if (reporting) None
          else OffsetIndexPlanner.pointRanges(path, seg, filters, storedSchema))
          .getOrElse {
            if (reporting) HadroInputPartition.ranges(path, seg)
            else {
              val (kept, prunedBlocks) =
                HadroInputPartition.prunedRanges(path, seg, filters, storedSchema)
              metricBlocksPruned += prunedBlocks
              kept
            }
          }
        // Storage-partitioned join: when the collection is uniformly
        // bucketed (or identity-partitioned with provably single-valued
        // segments), every partition carries its key as the DSv2
        // partition key so Spark can group co-partitioned sides
        // shuffle-free.
        if (bucketed.isDefined)
          parts.map(p => BucketKeyedPartition(
            p.asInstanceOf[HadroInputPartition], seg.bucket.get))
        else identityKeyed match {
          case Some((_, _, keys)) => parts.map(p => ValueKeyedPartition(
            p.asInstanceOf[HadroInputPartition], keys(seg.file)))
          case None => parts
        }
      }
      .++(dvDeltaParts) // synthesized CDC deletes for the window's dv drift
      .toArray
  }

  /** Key-grouped reporting (and its conservative planning, below) only
    * matter when the session opted into v2 bucketing — with the conf off,
    * Spark ignores reported partitioning entirely, so scans keep the
    * aggressive point-range/runtime-filter planning. */
  private def v2BucketingEnabled: Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false")
      .toBoolean

  /** Some((col, n)) iff the scan may report KeyGroupedPartitioning: the
    * manifest records a bucket spec, every PLANNED segment is tagged
    * within range, and the bucket column survives column pruning (the
    * reported key must resolve against this scan's output). */
  private def bucketedFor(manifest: Manifest,
      planned: Seq[SegmentInfo]): Option[(Seq[String], Int)] =
    for {
      _ <- if (v2BucketingEnabled) Some(()) else None
      // a dv-drift changefeed window appends unkeyed CDC delete partitions
      // — the scan cannot honestly report key-grouped partitioning then
      _ <- if (changesWindowInfo.forall(w => w.drift.isEmpty && w.dropped.isEmpty)) Some(()) else None
      c <- manifest.bucketBy
      n <- manifest.numBuckets
      cols = c.split(",").toSeq
      // Spark's storage-partitioned-join compatibility model matches each
      // partition transform to ONE join key — a bucket over several
      // columns can't be decomposed, so multi-column specs keep their
      // layout benefits (routing, tags, one-segment-per-bucket writes)
      // but are not reported as KeyGroupedPartitioning (verified
      // empirically: the join keeps its exchanges either way).
      if cols.length == 1
      // a fully-pruned scan must not report a 0-partition KeyGrouped
      // partitioning — fall back to unknown, Spark plans the empty scan
      if planned.nonEmpty
      if cols.forall(required.fieldNames.contains)
      if planned.forall(s => s.bucket.exists(b => b >= 0 && b < n))
    } yield (cols, n)

  /** Value-partitioned SPJ: Some((col, transform, segment -> key)) iff
    * the scan may report `identity(col)` / `days(col)` / ... KeyGrouped
    * partitioning — the collection declares value partitioning, the
    * column survives pruning, and every PLANNED segment is provably
    * single-valued UNDER THE TRANSFORM via its EXACT, zero-null segment
    * stats: identity needs min == max; a time transform needs both
    * bounds to land on the same transform ordinal (the per-value writer
    * routing makes that the steady state; stats are also what make the
    * check safe after any historical unrouted append, and after a
    * partition-spec respec — old coarser-routed segments simply fail
    * the finer single-value proof and the scan declines to report).
    * The partition key is derived from the parsed stats bound itself —
    * no tag parsing, so truncated identity-string tags can never
    * mis-group (truncated stats are inexact and refuse reporting), and
    * a time key is the same Int ordinal [[HadroTimeTransformBound]]
    * produces, so the reported `days(ts)` transform resolves against
    * the catalog's own function and both join sides agree by
    * construction. Two co-partitioned collections then join with zero
    * exchanges, the value-partitioned analog of the bucket SPJ path. */
  /** Memoized over the STATIC plan and computed ONCE — outputOrdering,
    * outputPartitioning and planInputPartitions must all see the same
    * answer (a concurrent schema change between those calls would
    * otherwise flip the reported partitioning and fail the query with
    * "must preserve the original partitioning"), and the schema-file
    * read + stats parse must not repeat per planning entry point. */
  private lazy val identityStatic: Option[(String, String, Map[String, Any])] =
    valueKeyedFor(staticPlanned)

  private def valueKeyedFor(
      planned: Seq[SegmentInfo]): Option[(String, String, Map[String, Any])] =
    for {
      _ <- if (v2BucketingEnabled) Some(()) else None
      // same constraint as bucketedFor: dv-drift CDC partitions are unkeyed
      _ <- if (changesWindowInfo.forall(w => w.drift.isEmpty && w.dropped.isEmpty)) Some(()) else None
      meta <- CollectionMeta.readSchema(path)
      c <- meta.partitionBy
      t <- meta.partitionTransform
      if t == "identity" || HadroPartition.Transforms.contains(t)
      if planned.nonEmpty
      if required.fieldNames.contains(c)
      ord = storedSchema.fieldNames.indexOf(c)
      if ord >= 0
      dt = storedSchema(ord).dataType
      keys = planned.map { s =>
        s.stats.get(c) match {
          case Some(st) if st.exact && st.nullCount == 0L &&
              st.min.isDefined && st.max.isDefined =>
            if (t == "identity") {
              if (st.min == st.max)
                Option(graft.format.StatsCollector.parse(st.min.get, dt))
              else None
            } else {
              // single-valued under the transform: both exact bounds map
              // to the same ordinal (the tag arithmetic itself, so scan
              // keys and writer tags can never disagree)
              val lo = graft.format.StatsCollector.parse(st.min.get, dt)
              val hi = graft.format.StatsCollector.parse(st.max.get, dt)
              val tagLo = HadroPartition.tagOf(dt,
                new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  Array[Any](lo)), 0, t)
              val tagHi = HadroPartition.tagOf(dt,
                new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  Array[Any](hi)), 0, t)
              if (tagLo == tagHi) Some(Int.box(tagLo.toInt)) else None
            }
          case _ => None
        }
      }
      if keys.forall(_.isDefined)
    } yield (c, t, planned.map(_.file).zip(keys.map(_.get)).toMap)

  override def outputPartitioning(): Partitioning = {
    // Static pushed filters only — the SAME memoized list planInputPartitions
    // prunes with when partitioning is reported, so the group count always
    // matches the planned partitions (runtime filters never prune segments
    // on a reported-bucketed scan; see planInputPartitions).
    val (manifest, planned) = (manifestSnapshot, staticPlanned)
    // offset planning drops leading segments and never tags bucket keys —
    // reporting KeyGroupedPartitioning would disagree with the partitions
    if (pushedOffset.exists(_ > 0)) return new UnknownPartitioning(0)
    bucketedFor(manifest, planned) match {
      case Some((cs, n)) =>
        val distinct = planned.flatMap(_.bucket).distinct.size
        new KeyGroupedPartitioning(
          Array[V2Expression](Expressions.bucket(n, cs: _*)), distinct)
      case None => identityStatic match {
        case Some((c, t, keys)) =>
          val expr: V2Expression =
            if (t == "identity") Expressions.identity(c)
            else Expressions.apply(t, Expressions.column(c))
          new KeyGroupedPartitioning(
            Array[V2Expression](expr), keys.values.toSeq.distinct.size)
        case None => new UnknownPartitioning(0)
      }
    }
  }

  /** True iff a type-widened segment can appear among this scan's planned
    * partitions — computed over the STATIC-filter survivor set, which is a
    * superset of every actual plan (runtime filters only add conjuncts;
    * limit/top-N cuts only shrink). Spark requires one uniform row-vs-
    * columnar decision per scan, so ONE widened planned segment drops the
    * whole scan to the row reader (which owns per-value widening) — but a
    * scan whose pushed filters prune away every widened segment keeps the
    * vectorized path. On a mostly-compacted collection with one widened
    * straggler, filtered scans that miss it stay columnar. */
  private lazy val widenedInPlan: Boolean = {
    val manifest = manifestSnapshot
    // common path first: no widened segments at all -> no pruning pass
    // (stats are in-manifest but bloom checks read sidecar files)
    val widened = manifest.segments.filter(_.writeTypes.nonEmpty)
    widened.nonEmpty && widened.exists(seg =>
      onlyFiles.forall(_.contains(seg.file)) &&
      SegmentSkipper.mightMatch(seg, pushed, storedSchema) &&
      BloomSidecar.mightMatch(path, seg, pushed, storedSchema) &&
      BloomSidecar.compositeMightMatch(path, seg, manifest.indexes, pushed, storedSchema))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // typeWidened ALSO covers pushed-offset scans: both need the row
    // reader (per-value widening / boundary-partition row skip) and the
    // row-vs-columnar decision must be uniform across partitions
    new HadroReaderFactory(storedSchema, required,
      typeWidened = widenedInPlan || pushedOffset.exists(_ > 0),
      sample = pushedSample)

  // ------------------------------------------------------ custom metrics
  // Pruning effectiveness in the SQL UI: segments read vs segments pruned
  // (stats + bloom + runtime filters + limit prefix) and the bytes the
  // plan actually touches. Driver-side values, set by planInputPartitions.
  private var metricSegmentsRead = 0L
  private var metricSegmentsPruned = 0L
  private var metricBytesPlanned = 0L
  private[spark] var metricBlocksPruned = 0L

  override def supportedCustomMetrics(): Array[CustomMetric] = Array(
    new HadroSegmentsReadMetric, new HadroSegmentsPrunedMetric,
    new HadroBytesPlannedMetric, new HadroBlocksPrunedMetric)

  override def reportDriverMetrics(): Array[CustomTaskMetric] = Array(
    HadroScan.taskMetric("hadroSegmentsRead", metricSegmentsRead),
    HadroScan.taskMetric("hadroSegmentsPruned", metricSegmentsPruned),
    HadroScan.taskMetric("hadroBytesPlanned", metricBytesPlanned),
    HadroScan.taskMetric("hadroBlocksPruned", metricBlocksPruned))

  /** Exact statistics from the manifest — no files touched, and computed
    * AFTER stats/bloom segment pruning, so a selective filter over a huge
    * collection reports only the surviving bytes. This is what lets
    * Catalyst choose broadcast joins for small (or well-pruned) hadro
    * relations by itself; without it, DSv2 sources fall back to
    * `defaultSizeInBytes` (effectively infinite) and every join goes
    * sort-merge. */
  override def estimateStatistics(): Statistics = {
    val manifest = manifestSnapshot
    val kept = manifest.segments
      .filter(seg => changesWindowInfo.forall(w =>
        w.includeFiles.map(_.contains(seg.file))
          .getOrElse(seg.ordinal >= w.floor.getOrElse(0L))))
      .filter(seg => onlyFiles.forall(_.contains(seg.file)))
      .filter(seg => SegmentSkipper.mightMatch(seg, pushed, storedSchema) &&
        BloomSidecar.mightMatch(path, seg, pushed, storedSchema) &&
        BloomSidecar.compositeMightMatch(path, seg, manifest.indexes, pushed, storedSchema))
    val bytes = kept.map(_.bytes).sum
    val rows = kept.map(s => s.rows - s.tombstones - s.dvDeletes).sum
    // ANALYZE output (CALL system.analyze): table-level column stats for
    // the CBO. Spark's transformV2Stats keys them by NamedReference
    // .describe() == attribute name and feeds join reordering / broadcast
    // / selectivity estimation. min/max are boxed back to each column's
    // EXTERNAL primitive so the catalyst ColumnStat sees its own type.
    val colStats: JMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      manifest.colStats.foreach { case (name, cs) =>
        dataSchema.fields.find(_.name == name).foreach { f =>
          def box(l: Option[Long], d: Option[Double]): java.util.Optional[Object] =
            (f.dataType match {
              case ByteType => l.map(v => Byte.box(v.toByte))
              case ShortType => l.map(v => Short.box(v.toShort))
              case IntegerType => l.map(v => Int.box(v.toInt))
              case LongType => l.map(Long.box)
              case FloatType => d.map(v => Float.box(v.toFloat))
              case DoubleType => d.map(Double.box)
              case _ => None
            }).map(v => java.util.Optional.of(v.asInstanceOf[Object]))
              .getOrElse(java.util.Optional.empty[Object]())
          m.put(Expressions.column(name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(cs.distinctCount)
              override def nullCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(cs.nullCount)
              override def avgLen(): java.util.OptionalLong =
                java.util.OptionalLong.of(cs.avgLen)
              override def maxLen(): java.util.OptionalLong =
                java.util.OptionalLong.of(cs.maxLen)
              override def min(): java.util.Optional[Object] =
                box(cs.minLong, cs.minDouble)
              override def max(): java.util.Optional[Object] =
                box(cs.maxLong, cs.maxDouble)
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                if (cs.histogram.isEmpty)
                  java.util.Optional.empty()
                else java.util.Optional.of(
                  new org.apache.spark.sql.connector.read.colstats.Histogram {
                    // equi-height: rows-per-bin is the live count split
                    // evenly over the bins (how the bounds were chosen)
                    override def height(): Double =
                      (rows - cs.nullCount).toDouble / cs.histogram.size
                    override def bins(): Array[
                        org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                      cs.histogram.map { b =>
                        new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                          override def lo(): Double = b.lo
                          override def hi(): Double = b.hi
                          override def ndv(): Long = b.ndv
                        }
                      }.toArray
                  })
            })
        }
      }
      m
    }
    // a pushed TABLESAMPLE keeps each row with probability (hi - lo):
    // scale the reported cardinality so Catalyst sizes joins over the
    // sampled relation (a 1% sample of a huge table IS broadcast-able)
    val frac = pushedSample.map { case (lo, hi, _) => hi - lo }.getOrElse(1.0)
    val sBytes = (bytes * frac).toLong
    val sRows = (rows * frac).toLong
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(sBytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(sRows)
      override def columnStats(): JMap[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }
}

/** DSv2 custom metrics MUST be top-level classes with a zero-argument
  * constructor: at execution end the SQL-UI listener re-instantiates each
  * metric class by reflection (`SQLAppStatusListener.aggregateMetrics` →
  * `Utils.loadExtensions`) to aggregate the task values — a nested or
  * parameterized class fails that load on a background thread (one
  * swallowed SparkException per query) and the UI never aggregates. One
  * class per metric name is the Spark contract. */
/** The manifest-CHAIN WALK shared by batch changes windows and the
  * streaming source: classifies every in-window commit by diffing
  * consecutive retained mainline manifests (METADATA only — superseded
  * segment files may be gone), so a DATA-PRESERVING rewrite (compact /
  * compactSmall / cluster — new packing, same live rows) is TRANSPARENT
  * to an incremental consumer (Iceberg's skip-replace-snapshots shape:
  * the nightly reader must not break because the hourly compactor ran),
  * while a truncate/overwrite/region-replace still refuses.
  *
  * It tracks a FLOOR-EQUIVALENT file set that re-bases through each
  * rewrite: consumed floor files leave the set, the rewrite's outputs
  * (all pre-window rows, by the checks below) enter it with their
  * at-creation vectors as the new base. Transparency is double-checked:
  * the rewrite's segments must carry writer provenance (`rewritten`) AND
  * conserve the live row count AND fold no upsert/tombstone history
  * (mutated) — a region-replace that forged one signal trips another. */
private[spark] object ChangeWindowPlanner {

  /** A generation-crossing window's net change set: `includeFiles` are
    * the end-manifest segments holding in-window INSERT rows (read with
    * end-state vectors, so in-window append+delete nets out); `drift` /
    * `dropped` are the synthesized-CDC-delete emissions, keyed to their
    * floor-base vectors. */
  final case class NetWindow(includeFiles: Set[String],
      drift: Seq[(SegmentInfo, Option[String])], dropped: Seq[SegmentInfo])

  /** Walk (start.version, end.version]; `requireFeed(file, what)` gates
    * every synthesized-delete emission (changefeed-mode check), `refuse`
    * aborts with surface-appropriate context. Throws via `refuse` on any
    * commit whose transparency cannot be proven. */
  def chainWalk(path: Path, start: Manifest, end: Manifest,
      requireFeed: (String, String) => Unit,
      refuse: String => Nothing): NetWindow = {
    // COST NOTE: the walk reads every in-window manifest sequentially on
    // the driver — O(commits in window) JSON parses per plan, each
    // metadata-sized and cached (manifestMetaAt parse cache), and
    // retention bounds the window for untagged floors. A TAGGED consumer
    // lagging 10^5 commits pays the full walk on every cycle, though:
    // if that becomes a real profile, amortize with per-manifest
    // segment-DIFF sidecars (each commit records its own added/removed
    // files, so the walk reads diffs instead of whole segment lists) or
    // coarser consumer checkpoints that bound the lag.
    val chain = scala.collection.mutable.ArrayBuffer[Manifest](start)
    var vv = start.version + 1
    while (vv < end.version) {
      val m =
        try CollectionMeta.manifestMetaAt(path, vv)
        catch {
          case e: Exception => refuse(
            s"the in-window manifest chain is no longer retained " +
              s"(version $vv: ${e.getMessage})")
        }
      if (m.branch.isEmpty) chain += m
      vv += 1
    }
    chain += end
    val tracked = scala.collection.mutable.LinkedHashMap.empty[String, SegmentInfo]
    start.segments.foreach(s => tracked(s.file) = s)
    val inserts = scala.collection.mutable.LinkedHashMap.empty[String, SegmentInfo]
    val drift = Seq.newBuilder[(SegmentInfo, Option[String])]
    val dropped = Seq.newBuilder[SegmentInfo]
    def liveRows(m: Manifest): Long =
      m.segments.map(s => s.rows - s.tombstones - s.dvDeletes).sum
    chain.toSeq.sliding(2).foreach {
      case Seq(prev, cur) =>
        val prevByFile = prev.segments.map(s => s.file -> s).toMap
        val curFiles = cur.segments.map(_.file).toSet
        val added = cur.segments.filterNot(s => prevByFile.contains(s.file))
        val removed = prev.segments.filterNot(s => curFiles.contains(s.file))
        if (cur.generation == prev.generation) {
          added.foreach(s => inserts(s.file) = s)
          removed.foreach { s =>
            tracked.remove(s.file) match {
              case Some(base) =>
                requireFeed(s.file, "was dropped (drop_partitions)")
                // the FLOOR base state: its vector is the window floor's,
                // so dv-then-drop emits every floor-live row
                dropped += base
              case None =>
                // appended AND dropped inside the window: nets out
                inserts.remove(s.file)
            }
          }
        } else {
          if (!added.forall(_.rewritten)) refuse(
            s"version ${cur.version}'s new segments carry no rewrite " +
              "provenance (a truncate/overwrite/region-replace " +
              "rewrites rows, not packing)")
          if (prev.mutated || cur.mutated) refuse(
            "the collection has upsert/tombstone history, which a " +
              "rewrite folds — per-key change attribution is lost")
          if (liveRows(prev) != liveRows(cur)) refuse(
            s"version ${cur.version} changed the live row count " +
              s"(${liveRows(prev)} -> ${liveRows(cur)})")
          removed.foreach { s =>
            if (inserts.contains(s.file)) refuse(
              s"version ${cur.version} consumed in-window appended " +
                s"segment ${s.file}, so its rows can no longer be " +
                "attributed")
            tracked.remove(s.file) match {
              case Some(base) =>
                if (s.deleteVector != base.deleteVector) {
                  // in-window dv deletes folded by the rewrite: emit
                  // from the superseded bytes (deferred GC keeps them
                  // one maintenance cycle; vacuumed -> refuse)
                  requireFeed(s.file,
                    "gained row-level (deletion-vector) deletes")
                  if (!Files.exists(path.resolve(s.file)))
                    refuse(s"segment ${s.file} carried in-window dv " +
                      "deletes that the rewrite folded, and its " +
                      "superseded bytes were already vacuumed")
                  drift += ((s, base.deleteVector))
                }
              case None => refuse(
                s"version ${cur.version} consumed segment ${s.file} " +
                  "of unknown provenance")
            }
          }
          added.foreach(s => tracked(s.file) = s)
        }
      case _ => () // single-manifest chain: nothing to classify
    }
    val endByFile = end.segments.map(s => s.file -> s).toMap
    tracked.foreach { case (f, base) =>
      endByFile.get(f).foreach { live =>
        if (live.deleteVector != base.deleteVector) {
          requireFeed(f, "gained row-level (deletion-vector) deletes")
          drift += ((live, base.deleteVector))
        }
      }
    }
    NetWindow(inserts.keySet.toSet, drift.result(), dropped.result())
  }
}

final class HadroSegmentsReadMetric extends CustomSumMetric {
  override def name(): String = "hadroSegmentsRead"
  override def description(): String = "hadro segments read"
}
final class HadroSegmentsPrunedMetric extends CustomSumMetric {
  override def name(): String = "hadroSegmentsPruned"
  override def description(): String = "hadro segments pruned"
}
final class HadroBytesPlannedMetric extends CustomSumMetric {
  override def name(): String = "hadroBytesPlanned"
  override def description(): String = "hadro bytes planned"
}
final class HadroBlocksPrunedMetric extends CustomSumMetric {
  override def name(): String = "hadroBlocksPruned"
  override def description(): String = "hadro blocks pruned"
}
final class HadroRowsWrittenMetric extends CustomSumMetric {
  override def name(): String = "hadroRowsWritten"
  override def description(): String = "hadro rows written"
}
final class HadroBytesWrittenMetric extends CustomSumMetric {
  override def name(): String = "hadroBytesWritten"
  override def description(): String = "hadro bytes written"
}
final class HadroSegmentsWrittenMetric extends CustomSumMetric {
  override def name(): String = "hadroSegmentsWritten"
  override def description(): String = "hadro segments written"
}

object HadroScan {

  private[spark] def taskMetric(metricName: String, v: Long): CustomTaskMetric =
    new CustomTaskMetric {
      override def name(): String = metricName
      override def value(): Long = v
    }

  /** Translate the runtime predicates Spark's dynamic pruning emits (IN /
    * equality over one column with literal values) into V1 filters the
    * segment-pruning machinery already understands. Literal values arrive
    * Catalyst-internal and are converted to the external form the skipper
    * expects. Anything else translates to None (no pruning, still correct). */
  private[spark] def toV1Filter(p: Predicate): Option[Filter] = {
    def ref(e: V2Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }
    def lit(e: V2Expression): Option[Any] = e match {
      case l: V2Literal[_] =>
        try Some(CatalystTypeConverters.createToScalaConverter(l.dataType)(l.value))
        catch { case _: Exception => None }
      case _ => None
    }
    def all(es: Seq[V2Expression]): Option[Seq[Any]] = {
      val vs = es.map(lit)
      if (vs.forall(_.isDefined)) Some(vs.map(_.get)) else None
    }
    val ch = p.children()
    p.name() match {
      case "IN" if ch.nonEmpty =>
        for { c <- ref(ch.head); vs <- all(ch.tail.toSeq) } yield In(c, vs.toArray)
      case "=" if ch.length == 2 =>
        ref(ch(0)).flatMap(c => lit(ch(1)).map(EqualTo(c, _)))
          .orElse(ref(ch(1)).flatMap(c => lit(ch(0)).map(EqualTo(c, _))))
      case _ => None
    }
  }
}

/** One scan task: a record-aligned byte range of one segment file.
  * `startRow` seeds the in-segment row index so `_hadro_seq` stays globally
  * correct across ranges; `endOffset` = -1 means read to end of file.
  * `nFields` is the segment's write-time schema width (<= 0 = full current
  * width): after additive schema evolution, readers decode with the
  * write-time prefix and null-fill appended columns. */
final case class HadroInputPartition(file: String, ordinal: Long,
    startOffset: Long, startRow: Long, endOffset: Long,
    nFields: Int = -1, deleteVector: Option[String] = None,
    writeTypes: Map[Int, org.apache.spark.sql.types.DataType] = Map.empty,
    // pushed-OFFSET residual: live (emittable) rows this partition's
    // reader must drop before its first emit
    skipLive: Long = 0L)
    extends InputPartition

/** A BATCH of key→offset point reads against one segment, executed by a
  * single task (the multi-get shape). One InputPartition per matching
  * record is correct for a handful of keys but becomes a task-per-record
  * explosion for wide IN pushdowns (a 400-key IN over a few segments
  * spawned ~400 tasks whose scheduling dwarfed the record reads —
  * caught by the h92 bench); chunking the sorted offsets into one task
  * per [[OffsetIndexPlanner.PointsPerTask]] keeps the bytes-proportional
  * read while paying task overhead once per chunk. Never produced while
  * the scan REPORTS partitioning (pointRanges is bypassed there), so it
  * can't reach the bucket/identity key-grouped wrappers. */
final case class PointBatchPartition(file: String, ordinal: Long,
    points: Seq[(Long, Long)], // (recordOffset, rowIndex), offset-sorted
    nFields: Int, deleteVector: Option[String],
    writeTypes: Map[Int, org.apache.spark.sql.types.DataType] = Map.empty)
    extends InputPartition

/** A CDC DELETE-synthesis partition: reads one split range of a segment
  * and emits rows flagged `_hadro_deleted = true` with their original
  * sequence numbers. Two modes:
  *   - DRIFT (`endDv` = Some): rows deleted by the end vector but not the
  *     base — a deletion-vector delete inside a changes window (Delta
  *     CDF's synthesized delete rows, from the window's manifest pair);
  *   - DROP (`endDv` = None): every row LIVE at the window start (not a
  *     tombstone, not in `baseDv`) — a drop_partitions inside the window
  *     removed the whole segment without an ordinal event.
  * Only planned for scans whose required schema carries `_hadro_deleted`
  * (changefeed full mode). */
final case class DvDeltaPartition(file: String, ordinal: Long,
    startOffset: Long, startRow: Long, endOffset: Long,
    nFields: Int, baseDv: Option[String], endDv: Option[String],
    writeTypes: Map[Int, org.apache.spark.sql.types.DataType] = Map.empty)
    extends InputPartition

/** A hadro input partition carrying its storage bucket as the DSv2
  * partition key — what lets Spark group co-bucketed scans for
  * storage-partitioned (zero-exchange) joins. */
final case class BucketKeyedPartition(p: HadroInputPartition, bucketId: Int)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

/** A hadro input partition carrying its identity-partition VALUE (in
  * Catalyst internal form — UTF8String for strings) as the DSv2
  * partition key: the value-partitioned analog of
  * [[BucketKeyedPartition]], grouping co-partitioned scans for
  * zero-exchange joins on the partition column. */
final case class ValueKeyedPartition(p: HadroInputPartition, key: Any)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](key))
}

object HadroInputPartition {
  /** One task per recorded split range — read parallelism is #split-ranges,
    * not #segments, so a single 50 GB ingest task doesn't become a single
    * 50 GB scan task. Segments without split points scan whole. */
  /** A segment's write-time type overrides, parsed once at planning so
    * executors receive ready DataTypes (driver-side catalyst parse). */
  def typesOf(seg: SegmentInfo): Map[Int, org.apache.spark.sql.types.DataType] =
    seg.writeTypes.map { case (ord, ddl) =>
      ord.toInt -> org.apache.spark.sql.types.DataType.fromDDL(ddl)
    }

  def ranges(path: Path, seg: SegmentInfo): Seq[InputPartition] = {
    val file = path.resolve(seg.file).toString
    val nf = seg.nFields.getOrElse(-1)
    val wt = typesOf(seg)
    if (seg.splits.isEmpty)
      Seq(HadroInputPartition(file, seg.ordinal, 0L, 0L, -1L, nf, seg.deleteVector, wt))
    else {
      val starts = graft.meta.SplitPoint(0L, 0L) +: seg.splits
      starts.zipWithIndex.map { case (sp, i) =>
        val end = if (i + 1 < starts.length) starts(i + 1).offset else -1L
        HadroInputPartition(file, seg.ordinal, sp.offset, sp.row, end, nf,
          seg.deleteVector, wt)
      }
    }
  }

  /** CDC delta planning for one drifted segment: one [[DvDeltaPartition]]
    * per split range that CONTAINS newly-deleted rows (end vector minus
    * base vector), so a 100-row GDPR delete inside a 50 GB segment plans
    * only the blocks holding those rows — the drift read is O(deleted
    * rows' blocks), never O(segment). Vectors are driver-parsed here
    * (sidecar bitmaps, tiny by construction) and re-read by executors. */
  def dvDeltaRanges(path: Path, seg: SegmentInfo,
      baseDv: Option[String]): Seq[InputPartition] = {
    val endDv = seg.deleteVector.getOrElse(return Nil)
    val delta = graft.format.DeleteVector.read(path.resolve(endDv))
    baseDv.foreach(b => delta.andNot(graft.format.DeleteVector.read(path.resolve(b))))
    if (delta.isEmpty) return Nil
    val file = path.resolve(seg.file).toString
    val nf = seg.nFields.getOrElse(-1)
    val wt = typesOf(seg)
    if (seg.splits.isEmpty)
      return Seq(DvDeltaPartition(file, seg.ordinal, 0L, 0L, -1L, nf, baseDv, Some(endDv), wt))
    val starts = graft.meta.SplitPoint(0L, 0L) +: seg.splits
    starts.zipWithIndex.flatMap { case (sp, i) =>
      val endOff = if (i + 1 < starts.length) starts(i + 1).offset else -1L
      val rowEnd = if (i + 1 < starts.length) starts(i + 1).row else seg.rows
      val hit = sp.row <= Int.MaxValue && {
        val next = delta.nextSetBit(sp.row.toInt)
        next >= 0 && next < rowEnd
      }
      if (hit)
        Some(DvDeltaPartition(file, seg.ordinal, sp.offset, sp.row, endOff,
          nf, baseDv, Some(endDv), wt))
      else None
    }
  }

  /** CDC delete synthesis for a segment DROPPED inside the window
    * (drop_partitions — a metadata-only removal with no ordinal event):
    * every split range is planned in DROP mode, emitting the rows that
    * were live at the window start as `_hadro_deleted = true`. `seg` is
    * the START manifest's segment (the file is still retained — the
    * start manifest's reconstructability check proved it). */
  def dropRanges(path: Path, seg: SegmentInfo): Seq[InputPartition] = {
    val file = path.resolve(seg.file).toString
    val nf = seg.nFields.getOrElse(-1)
    val wt = typesOf(seg)
    if (seg.splits.isEmpty)
      Seq(DvDeltaPartition(file, seg.ordinal, 0L, 0L, -1L, nf,
        seg.deleteVector, None, wt))
    else {
      val starts = graft.meta.SplitPoint(0L, 0L) +: seg.splits
      starts.zipWithIndex.map { case (sp, i) =>
        val endOff = if (i + 1 < starts.length) starts(i + 1).offset else -1L
        DvDeltaPartition(file, seg.ordinal, sp.offset, sp.row, endOff, nf,
          seg.deleteVector, None, wt)
      }
    }
  }

  /** Like [[ranges]] but BLOCK-pruned: split ranges whose per-block stats
    * (`SegmentInfo.blockStats`, the Parquet row-group analog) cannot match
    * the pushed filters are dropped at planning time, so a selective
    * filter over one oversized clustered segment scans only the blocks
    * that can hold matches. Returns (surviving partitions, blocks pruned).
    * Correctness: dropping a block only removes rows the filter would
    * reject — NEVER use this for scans whose output must cover whole
    * segments (CoW row-level rewrites plan through [[ranges]]). Falls back
    * to all ranges when block stats are absent/misaligned (legacy
    * manifests) or no filters pushed. */
  def prunedRanges(path: Path, seg: SegmentInfo, filters: Array[Filter],
      schema: StructType): (Seq[InputPartition], Long) = {
    val all = ranges(path, seg)
    if (filters.isEmpty || seg.blockStats.length != seg.splits.length + 1)
      return (all, 0L)
    val starts = graft.meta.SplitPoint(0L, 0L) +: seg.splits
    val kept = all.zipWithIndex.filter { case (_, i) =>
      val blockRows =
        (if (i + 1 < starts.length) starts(i + 1).row else seg.rows) - starts(i).row
      SegmentSkipper.mightMatchStats(seg.blockStats(i), blockRows, filters, schema)
    }.map(_._1)
    (kept, (all.length - kept.length).toLong)
  }
}

final class HadroReaderFactory(dataSchema: StructType, required: StructType,
    typeWidened: Boolean = false,
    sample: Option[(Double, Double, Long)] = None) extends PartitionReaderFactory {

  // Columnar path for flat schemas without metadata columns; nested types
  // or _hadro_* requests use the row reader (decided once per scan).
  // A scan containing ANY type-widened segment goes row-based wholesale:
  // the decision must be uniform across partitions (Spark rejects mixed
  // row/columnar scans), and the per-value widening lives in the row
  // reader. Compaction re-encodes at the current type and restores the
  // columnar path. Sampled scans also go row-based: the per-row hash
  // decision lives in the row reader, where a rejected row skips payload
  // decode entirely (the point of pushing the sample down).
  private val columnar =
    !typeWidened && sample.isEmpty &&
      HadroColumnar.supportsSchema(dataSchema) &&
      !required.fieldNames.exists(HadroTable.MetaColNames)

  // NOTE: must be partition-UNIFORM — Spark refuses scans that mix
  // row-based and columnar partitions, so PointBatchPartition gets a
  // chained columnar reader below instead of opting out here.
  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  private def unwrap(partition: InputPartition): HadroInputPartition =
    partition match {
      case b: BucketKeyedPartition => b.p
      case v: ValueKeyedPartition => v.p
      case p: HadroInputPartition => p
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = partition match {
    case d: DvDeltaPartition =>
      new HadroPartitionReader(Paths.get(d.file), d.ordinal, dataSchema, required,
        d.startOffset, d.startRow, d.endOffset, d.nFields, None,
        d.writeTypes, 0L, sample, dvDelta = Some((d.baseDv, d.endDv)))
    case pb: PointBatchPartition =>
      // multi-get: chain the offset-sorted single-record reads inside
      // ONE task — same per-record reader, task overhead paid once
      new PartitionReader[InternalRow] {
        private val it = pb.points.iterator
        private var cur: HadroPartitionReader = null
        override def next(): Boolean = {
          while (true) {
            if (cur == null) {
              if (!it.hasNext) return false
              val (off, row) = it.next()
              cur = new HadroPartitionReader(Paths.get(pb.file), pb.ordinal,
                dataSchema, required, off, row, off + 1, pb.nFields,
                pb.deleteVector, pb.writeTypes, 0L, sample)
            }
            if (cur.next()) return true
            cur.close(); cur = null
          }
          false
        }
        override def get(): InternalRow = cur.get()
        override def close(): Unit = if (cur != null) cur.close()
      }
    case _ =>
      val p = unwrap(partition)
      new HadroPartitionReader(Paths.get(p.file), p.ordinal, dataSchema, required,
        p.startOffset, p.startRow, p.endOffset, p.nFields, p.deleteVector,
        p.writeTypes, p.skipLive, sample)
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = partition match {
    case pb: PointBatchPartition =>
      // multi-get, columnar flavor: one single-record batch per point,
      // chained inside one task (scans must be partition-uniform in
      // row/columnar mode, so the batch path needs both readers)
      new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
        private val it = pb.points.iterator
        private var cur: HadroColumnarPartitionReader = null
        override def next(): Boolean = {
          while (true) {
            if (cur == null) {
              if (!it.hasNext) return false
              val (off, row) = it.next()
              cur = new HadroColumnarPartitionReader(Paths.get(pb.file),
                dataSchema, required, off, off + 1, pb.nFields, row,
                pb.deleteVector)
            }
            if (cur.next()) return true
            cur.close(); cur = null
          }
          false
        }
        override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
          cur.get()
        override def close(): Unit = if (cur != null) cur.close()
      }
    case _ =>
      val p = unwrap(partition)
      new HadroColumnarPartitionReader(Paths.get(p.file), dataSchema, required,
        p.startOffset, p.endOffset, p.nFields, p.startRow, p.deleteVector)
  }
}

/** Per-segment reader: the reference's scan loop (`hadro/engine.py:139-177`)
  * in Scala — buffered framed-record decode, tombstone skip — plus column
  * pruning inside the decoder and metadata-column materialization. */
final class HadroPartitionReader(file: Path, ordinal: Long,
    dataSchema: StructType, required: StructType,
    startOffset: Long = 0L, startRow: Long = 0L, endOffset: Long = -1L,
    nFields: Int = -1, deleteVector: Option[String] = None,
    writeTypes: Map[Int, org.apache.spark.sql.types.DataType] = Map.empty,
    skipLive: Long = 0L,
    sample: Option[(Double, Double, Long)] = None,
    // CDC delta mode (Some((baseDv, endDv))): emit rows flagged
    // _hadro_deleted = true — endDv = Some: rows newly deleted between
    // the two vectors (drift); endDv = None: every row live at the
    // window start (the segment was DROPPED inside the window).
    dvDelta: Option[(Option[String], Option[String])] = None)
    extends PartitionReader[InternalRow] {

  // pushed-OFFSET residual: drop this many would-be-emitted rows first
  // (frame-advance only — the decoder never runs on skipped rows)
  private var toSkip: Long = skipLive

  // pushed TABLESAMPLE: seeded-hash membership of the record's stable
  // sequence number. A rejected row is frame-advanced only — its payload
  // is never decoded (2^-53 maps the hash's top 53 bits onto [0, 1)).
  private val sampleOn = sample.isDefined
  private val (sampleLo, sampleHi, sampleSeed) = sample.getOrElse((0.0, 0.0, 0L))
  @inline private def sampled(seq: Long): Boolean = {
    val u = (org.apache.spark.sql.catalyst.expressions.XXH64
      .hashLong(seq, sampleSeed) >>> 11) * (1.0 / 9007199254740992.0) // 2^-53
    u >= sampleLo && u < sampleHi
  }

  // Deletion vector: rows whose in-segment index is set are PHYSICALLY
  // deleted — skipped unconditionally, even in changefeed (raw) mode.
  private val dvBits: java.util.BitSet =
    deleteVector.map(n => graft.format.DeleteVector.read(file.getParent.resolve(n)))
      .orNull

  // CDC delta mode: DRIFT emits endDv minus baseDv (computed once from
  // the tiny sidecar bitmaps); DROP emits everything live at the start
  // (all rows outside baseDv, tombstones excluded in nextDelta).
  private val deltaMode: Boolean = dvDelta.isDefined
  private val deltaBits: java.util.BitSet = dvDelta.flatMap { case (base, end) =>
    end.map { e =>
      val d = graft.format.DeleteVector.read(file.getParent.resolve(e))
      base.foreach(b => d.andNot(graft.format.DeleteVector.read(file.getParent.resolve(b))))
      d
    }
  }.orNull
  private val deltaBase: java.util.BitSet =
    if (deltaMode && deltaBits == null)
      dvDelta.flatMap(_._1)
        .map(b => graft.format.DeleteVector.read(file.getParent.resolve(b)))
        .orNull
    else null

  private val dataFields = required.fields.filterNot(f => HadroTable.MetaColNames(f.name))
  private val wantSeq = required.fieldNames.contains(HadroTable.SeqCol)
  private val wantDeleted = required.fieldNames.contains(HadroTable.DeletedCol)
  // Additive schema evolution: this segment was written when only the first
  // `nFields` schema fields existed — decode with that prefix schema and
  // null-fill required columns appended since.
  private val writeWidth =
    if (nFields > 0) math.min(nFields, dataSchema.length) else dataSchema.length
  // Type-widening evolution: this segment's bytes carry `writeTypes`'
  // original types at those ordinals — decode with the WRITE-TIME schema
  // (prefix width + per-ordinal type), then widen values to the current
  // schema type per row below.
  private val writeSchema = {
    val prefix =
      if (writeWidth == dataSchema.length) dataSchema
      else StructType(dataSchema.fields.take(writeWidth))
    if (writeTypes.isEmpty) prefix
    else StructType(prefix.fields.zipWithIndex.map { case (f, i) =>
      writeTypes.get(i).map(t => f.copy(dataType = t)).getOrElse(f)
    })
  }
  private val presentIdx: Array[Int] = dataFields.indices
    .filter(i => dataSchema.fieldIndex(dataFields(i).name) < writeWidth).toArray
  private val allPresent = presentIdx.length == dataFields.length
  // Columns appended (with a DEFAULT) after this segment was written:
  // back-fill the frozen at-ALTER-time constant instead of null.
  // (out-position, catalyst value); computed once per reader.
  private val absentDefaults: Array[(Int, Any)] = dataFields.indices
    .filterNot(i => dataSchema.fieldIndex(dataFields(i).name) < writeWidth)
    .flatMap { i =>
      graft.meta.CollectionMeta.defaultValueOf(dataFields(i)).map(v => (i, v))
    }.toArray
  private val requiredOrdinals = presentIdx.map(i => dataSchema.fieldIndex(dataFields(i).name))
  private val decoder = new RecordCodec.Decoder(writeSchema, requiredOrdinals)
  // out-position -> widener for required columns whose write-time type
  // differs from the current one (null values pass through untouched)
  private val wideners: Array[(Int, org.apache.spark.sql.types.DataType, AnyRef => AnyRef)] =
    if (writeTypes.isEmpty) Array.empty
    else requiredOrdinals.zipWithIndex.flatMap { case (fullOrd, outPos) =>
      writeTypes.get(fullOrd).map { wt =>
        (outPos, wt, RecordCodec.widener(wt, dataSchema.fields(fullOrd).dataType))
      }
    }
  private def widen(row: InternalRow): InternalRow = {
    var i = 0
    while (i < wideners.length) {
      val (pos, wt, f) = wideners(i)
      if (!row.isNullAt(pos))
        row.update(pos, f(row.get(pos, wt).asInstanceOf[AnyRef]))
      i += 1
    }
    row
  }
  // Positions of each required column in the output row (data cols keep
  // required-schema order; metadata cols sit at their required positions).
  private val outWidth = required.length
  private val dataOut = required.fields.zipWithIndex
    .filterNot { case (f, _) => HadroTable.MetaColNames(f.name) }.map(_._2)
  private val seqPos = if (wantSeq) required.fieldIndex(HadroTable.SeqCol) else -1
  private val deletedPos = if (wantDeleted) required.fieldIndex(HadroTable.DeletedCol) else -1

  private val reader = new SegmentReader(file, startOffset, endOffset)
  private var rowIndex = startRow - 1L
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (deltaMode) return nextDelta()
    while (reader.advance()) {
      rowIndex += 1
      if (dvBits == null || rowIndex > Int.MaxValue || !dvBits.get(rowIndex.toInt)) {
      if (!sampleOn ||
        sampled((ordinal << HadroTable.SeqOrdinalShift) | rowIndex)) {
      val deleted = (reader.flags & RecordCodec.DeletedFlag) != 0
      if ((!deleted || wantDeleted) && toSkip > 0) toSkip -= 1
      else if (!deleted || wantDeleted) { // tombstone skip: engine.py:169
        val decoded = widen(
          decoder.decode(reader.buffer, reader.payloadOffset, reader.payloadLength))
        current =
          if (!wantSeq && !wantDeleted && allPresent) decoded
          else {
            val out = new GenericInternalRow(outWidth) // absent cols stay null
            var i = 0
            while (i < presentIdx.length) {
              val di = presentIdx(i)
              out.update(dataOut(di), decoded.get(i, dataFields(di).dataType)); i += 1
            }
            var ad = 0 // ...unless the column carries a DEFAULT back-fill
            while (ad < absentDefaults.length) {
              val (di, v) = absentDefaults(ad); out.update(dataOut(di), v); ad += 1
            }
            if (seqPos >= 0)
              out.update(seqPos, (ordinal << HadroTable.SeqOrdinalShift) | rowIndex)
            if (deletedPos >= 0) out.update(deletedPos, deleted)
            out
          }
        return true
      }
      }
      }
    }
    false
  }

  /** CDC delta mode: decode and emit ONLY rows in `deltaBits` (deleted by
    * the window's end vector, live at its start), flagged deleted = true
    * with their original sequence number. Rows outside the delta — and
    * key-tombstone records, which were never live data rows — are
    * frame-advanced without payload decode, so the pass costs I/O on the
    * planned blocks and decode on exactly the deleted rows. */
  private def nextDelta(): Boolean = {
    while (reader.advance()) {
      rowIndex += 1
      val inDelta =
        if (deltaBits != null) // drift: newly-vectored rows only
          rowIndex <= Int.MaxValue && deltaBits.get(rowIndex.toInt)
        else // drop: every row live at the window start
          deltaBase == null || rowIndex > Int.MaxValue ||
            !deltaBase.get(rowIndex.toInt)
      if (inDelta && (reader.flags & RecordCodec.DeletedFlag) == 0 &&
          // a pushed TABLESAMPLE owns row membership scan-wide: the
          // synthesized delete rows sample by the SAME stable sequence
          // hash as inserts, so a sampled incremental consumer sees a
          // consistent subset (a row in the sample deletes in the sample)
          (!sampleOn ||
            sampled((ordinal << HadroTable.SeqOrdinalShift) | rowIndex))) {
        val decoded = widen(
          decoder.decode(reader.buffer, reader.payloadOffset, reader.payloadLength))
        val out = new GenericInternalRow(outWidth)
        var i = 0
        while (i < presentIdx.length) {
          val di = presentIdx(i)
          out.update(dataOut(di), decoded.get(i, dataFields(di).dataType)); i += 1
        }
        var ad = 0
        while (ad < absentDefaults.length) {
          val (di, v) = absentDefaults(ad); out.update(dataOut(di), v); ad += 1
        }
        if (seqPos >= 0)
          out.update(seqPos, (ordinal << HadroTable.SeqOrdinalShift) | rowIndex)
        if (deletedPos >= 0) out.update(deletedPos, true)
        current = out
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}

/** Bloom-sidecar segment pruning for point predicates on the collection's
  * key column. Consulted at PLANNING time after min/max (cheap first);
  * loaded filters are memoized driver-side. Conservative: any miss/mismatch
  * keeps the segment. */
object BloomSidecar {
  // Size-bounded LRU (access-order LinkedHashMap): at 100k+ segments a
  // point-get storm evicts one-at-a-time instead of thrashing the whole
  // cache the way a clear()-on-full policy would.
  private val MaxEntries = 1024
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, graft.format.KeyBloom](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, graft.format.KeyBloom]): Boolean =
        size() > MaxEntries
    })

  private def load(path: Path, seg: SegmentInfo): Option[graft.format.KeyBloom] =
    loadFile(path, seg.bloom)

  private[spark] def loadFile(path: Path, file: Option[String]): Option[graft.format.KeyBloom] =
    file.flatMap { f =>
      val key = path.resolve(f).toString
      Option(cache.get(key)).orElse {
        val b = graft.format.KeyBloom.readFrom(path.resolve(f))
        b.foreach(cache.put(key, _))
        b
      }
    }

  /** Composite-key pruning via named multi-field indexes
    * (`INTERFACE.md:35-38`): when the pushed filters pin EVERY field of a
    * registered index with equality, probe that index's per-segment bloom
    * with the canonical hash of the value tuple. Conservative on any
    * missing sidecar, unconvertible value, or partially-pinned index. */
  def compositeMightMatch(path: Path, seg: SegmentInfo,
      indexes: Map[String, Seq[String]], filters: Array[Filter],
      schema: StructType): Boolean = {
    if (indexes.isEmpty || seg.indexBlooms.isEmpty) return true
    val eqs: Map[String, Any] = filters.collect { case EqualTo(c, v) => c -> v }.toMap
    indexes.forall { case (name, fields) =>
      seg.indexBlooms.get(name) match {
        case Some(sidecar) if fields.nonEmpty && fields.forall(eqs.contains) =>
          val internals = fields.map { fd =>
            schema.fields.find(_.name == fd).flatMap { f =>
              try Some(CatalystTypeConverters.createToCatalystConverter(f.dataType)(eqs(fd)))
              catch { case _: Exception => None }
            }
          }
          if (internals.exists(_.isEmpty)) true
          else loadFile(path, Some(sidecar)).forall(
            _.mightContainHash(graft.format.KeyBloom.canonicalComposite(internals.map(_.get))))
        case _ => true
      }
    }
  }

  def mightMatch(path: Path, seg: SegmentInfo, filters: Array[Filter],
      schema: StructType): Boolean =
    seg.bloomCol match {
      case None => true
      case Some(keyCol) =>
        def internal(v: Any): Option[Any] =
          schema.fields.find(_.name == keyCol).flatMap { f =>
            try Some(CatalystTypeConverters.createToCatalystConverter(f.dataType)(v))
            catch { case _: Exception => None }
          }
        filters.forall {
          case EqualTo(c, v) if c == keyCol =>
            (for { b <- load(path, seg); iv <- internal(v) }
              yield b.mightContain(iv)).getOrElse(true)
          case In(c, vs) if c == keyCol && vs.nonEmpty =>
            load(path, seg).forall(b =>
              vs.exists(v => internal(v).forall(b.mightContain)))
          case _ => true
        }
    }
}

/** Plan-time consultation of the persisted key→offset index
  * ([[graft.format.KeyOffsetIndex]]): when the pushed filters pin the key
  * column with equality/IN, a point lookup reads bytes proportional to the
  * MATCHING RECORDS — each match becomes a single-record scan range
  * `[offset, offset+1)` (the reader parses the one record starting there
  * and stops) — and an exact index miss skips the segment outright.
  * Conservative: any missing sidecar or unconvertible value falls back to
  * the full-segment path (`None`). */
object OffsetIndexPlanner {
  /** Matching point reads bundled into one task ([[PointBatchPartition]]).
    * 128 single-record seeks per task keeps task-launch overhead ~1% of
    * the work while leaving wide INs plenty of parallelism. */
  private[spark] val PointsPerTask = 128
  private val MaxEntries = 256
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, graft.format.KeyOffsetIndex](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, graft.format.KeyOffsetIndex]): Boolean =
        size() > MaxEntries
    })

  private def load(path: Path, file: String): Option[graft.format.KeyOffsetIndex] = {
    val key = path.resolve(file).toString
    Option(cache.get(key)).orElse {
      val idx = graft.format.KeyOffsetIndex.readFrom(path.resolve(file))
      idx.foreach(cache.put(key, _))
      idx
    }
  }

  def pointRanges(path: Path, seg: SegmentInfo, filters: Array[Filter],
      schema: StructType): Option[Seq[InputPartition]] =
    for {
      keyCol <- seg.bloomCol
      sidecar <- seg.offsetIndex
      values <- filters.collectFirst {
        case EqualTo(c, v) if c == keyCol => Seq(v)
        case In(c, vs) if c == keyCol && vs.nonEmpty => vs.toSeq
      }
      field <- schema.fields.find(_.name == keyCol)
      internals <- traverse(values) { v =>
        try Some(CatalystTypeConverters.createToCatalystConverter(field.dataType)(v))
        catch { case _: Exception => None }
      }
      idx <- load(path, sidecar)
    } yield {
      val file = path.resolve(seg.file).toString
      val nf = seg.nFields.getOrElse(-1)
      val wt = HadroInputPartition.typesOf(seg)
      val hits = internals.flatMap(idx.lookup).distinct.sortBy(_._1)
      // one task per PointsPerTask matching records (multi-get batching):
      // singletons stay plain single-record ranges, wide IN pushdowns
      // chunk instead of spawning a task per record
      hits.grouped(PointsPerTask).map { chunk =>
        if (chunk.size == 1)
          HadroInputPartition(file, seg.ordinal, chunk.head._1,
            chunk.head._2, chunk.head._1 + 1, nf,
            seg.deleteVector, wt): InputPartition
        else PointBatchPartition(file, seg.ordinal, chunk, nf,
          seg.deleteVector, wt): InputPartition
      }.toSeq
    }

  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = xs.map(f)
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }
}

/** Min/max-stats based segment pruning — the Spark-idiomatic replacement for
  * the reference's declared B+Tree secondary indexes
  * (`/root/reference/INTERFACE.md:32-38`). Strictly conservative: any
  * uncertainty keeps the segment. */
object SegmentSkipper {
  def supports(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
         _: LessThanOrEqual | _: In | _: IsNull | _: IsNotNull |
         _: StringStartsWith => true
    case And(l, r) => supports(l) && supports(r)
    case Or(l, r) => supports(l) && supports(r)
    case _ => false
  }

  def mightMatch(seg: SegmentInfo, filters: Array[Filter], schema: StructType): Boolean =
    mightMatchStats(seg.stats, seg.rows, filters, schema)

  /** Same pruning over any stats map — used with per-BLOCK stats so a
    * selective filter drops split ranges inside a retained segment. */
  def mightMatchStats(stats: Map[String, ColumnStats], rows: Long,
      filters: Array[Filter], schema: StructType): Boolean =
    filters.forall(f => mightMatch(stats, rows, f, schema))

  private def bounds(stats: Map[String, ColumnStats], col: String,
      schema: StructType): Option[(Any, Any, Long)] =
    for {
      field <- schema.fields.find(_.name == col)
      st <- stats.get(col)
      mn <- st.min
      mx <- st.max
      pmn = StatsCollector.parse(mn, field.dataType) if pmn != null
      pmx = StatsCollector.parse(mx, field.dataType)
    } yield (pmn, pmx, st.nullCount)

  private def toInternal(v: Any, col: String, schema: StructType): Option[Any] =
    schema.fields.find(_.name == col).flatMap { f =>
      try Some(CatalystTypeConverters.createToCatalystConverter(f.dataType)(v))
      catch { case _: Exception => None }
    }

  private def cmp(a: Any, b: Any): Option[Int] =
    try {
      if (a.getClass != b.getClass && !(a.isInstanceOf[UTF8String] && b.isInstanceOf[UTF8String]))
        None
      else Some(if (StatsCollector.lt(a, b)) -1 else if (StatsCollector.lt(b, a)) 1 else 0)
    } catch { case _: Exception => None }

  private def mightMatch(stats: Map[String, ColumnStats], rows: Long, f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(c, v) =>
      (for { (mn, mx, _) <- bounds(stats, c, schema); iv <- toInternal(v, c, schema)
             lo <- cmp(iv, mn); hi <- cmp(iv, mx) } yield lo >= 0 && hi <= 0).getOrElse(true)
    case GreaterThan(c, v) =>
      (for { (_, mx, _) <- bounds(stats, c, schema); iv <- toInternal(v, c, schema)
             hi <- cmp(mx, iv) } yield hi > 0).getOrElse(true)
    case GreaterThanOrEqual(c, v) =>
      (for { (_, mx, _) <- bounds(stats, c, schema); iv <- toInternal(v, c, schema)
             hi <- cmp(mx, iv) } yield hi >= 0).getOrElse(true)
    case LessThan(c, v) =>
      (for { (mn, _, _) <- bounds(stats, c, schema); iv <- toInternal(v, c, schema)
             lo <- cmp(mn, iv) } yield lo < 0).getOrElse(true)
    case LessThanOrEqual(c, v) =>
      (for { (mn, _, _) <- bounds(stats, c, schema); iv <- toInternal(v, c, schema)
             lo <- cmp(mn, iv) } yield lo <= 0).getOrElse(true)
    case In(c, vs) => vs.isEmpty || vs.exists(v => mightMatch(stats, rows, EqualTo(c, v), schema))
    case IsNull(c) => stats.get(c).forall(_.nullCount > 0)
    case IsNotNull(c) => stats.get(c).forall(_.nullCount < rows)
    // Prefix predicates (`url LIKE 'https://en.%'` — the corpus-curation
    // filter shape): a segment can hold a prefix match only if its range
    // intersects [prefix, nextPrefix): max >= prefix AND min < nextPrefix.
    // The upper bound uses an ASCII-only successor — incrementing a
    // non-ASCII char can produce an invalid UTF-16 unit whose UTF-8 bytes
    // no longer upper-bound the range, so there we keep lower-bound-only
    // pruning (still drops every segment entirely below the prefix).
    case StringStartsWith(c, prefix) =>
      (for { (mn, mx, _) <- bounds(stats, c, schema); ip <- toInternal(prefix, c, schema)
             hi <- cmp(mx, ip) } yield {
        val aboveLower = hi >= 0
        val belowUpper = nextAsciiPrefix(prefix).forall { np =>
          (for { inp <- toInternal(np, c, schema); lo <- cmp(mn, inp) }
            yield lo < 0).getOrElse(true)
        }
        aboveLower && belowUpper
      }).getOrElse(true)
    case And(l, r) => mightMatch(stats, rows, l, schema) && mightMatch(stats, rows, r, schema)
    // OR prunes only segments where BOTH branches are impossible — the
    // `lang = 'en' OR lang = 'de'` multi-value curation filter.
    case Or(l, r) => mightMatch(stats, rows, l, schema) || mightMatch(stats, rows, r, schema)
    case _ => true
  }

  /** Smallest string strictly greater than every extension of `prefix`,
    * when the last char admits a safe ASCII increment; None otherwise. */
  private def nextAsciiPrefix(p: String): Option[String] = {
    if (p.isEmpty) return None
    val last = p.charAt(p.length - 1)
    if (last >= 0x7f) None
    else Some(p.substring(0, p.length - 1) + (last + 1).toChar)
  }

  /** COMPOSITE write-order pruning: a segment written under a multi-column
    * sort spec records its exact LEXICOGRAPHIC row range (first/last row's
    * sort-column tuple — `SegmentInfo.sortCols/sortLo/sortHi`). The
    * pushed conjuncts form a per-column box; the segment survives only if
    * the box can intersect the lex interval, i.e. the box's lex-greatest
    * point is >= the segment's first tuple AND its lex-least point is <=
    * the last tuple (a box's lex extremes are just its per-dim extremes).
    * This is strictly tighter than per-column min/max for segments that
    * straddle a leading-value boundary — `(tenant, ts)` layouts, where a
    * straddler's ts range covers everything per-column but almost nothing
    * lexicographically. Strict bounds are treated as inclusive and any
    * unparseable piece degrades to "keep" — pruning is only ever an
    * optimization. */
  def compositeMightMatch(seg: SegmentInfo, filters: Array[Filter],
      schema: StructType): Boolean = {
    val cols = seg.sortCols match {
      case Some(c) => c.split(",").toSeq
      case None => return true
    }
    val k = cols.length
    if (k < 2 || seg.sortLo.length != k || seg.sortHi.length != k) return true
    val fieldsOpt = cols.map(c => schema.fields.find(_.name == c))
    if (fieldsOpt.exists(_.isEmpty)) return true
    val fields = fieldsOpt.map(_.get)
    val segLo = new Array[Any](k)
    val segHi = new Array[Any](k)
    var i = 0
    while (i < k) {
      segLo(i) = StatsCollector.parse(seg.sortLo(i), fields(i).dataType)
      segHi(i) = StatsCollector.parse(seg.sortHi(i), fields(i).dataType)
      if (segLo(i) == null || segHi(i) == null) return true
      i += 1
    }
    // per-dim box from the top-level conjuncts (filters array is an AND)
    def conjuncts(f: Filter): Seq[Filter] = f match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val boxLo = Array.fill[Any](k)(null) // null = unbounded
    val boxHi = Array.fill[Any](k)(null)
    val colIdx = cols.zipWithIndex.toMap
    def tightenLo(d: Int, v: Any): Unit =
      if (boxLo(d) == null || cmp(boxLo(d), v).exists(_ < 0)) boxLo(d) = v
    def tightenHi(d: Int, v: Any): Unit =
      if (boxHi(d) == null || cmp(v, boxHi(d)).exists(_ < 0)) boxHi(d) = v
    filters.flatMap(conjuncts).foreach {
      case EqualTo(c, v) if colIdx.contains(c) =>
        toInternal(v, c, schema).foreach { iv =>
          tightenLo(colIdx(c), iv); tightenHi(colIdx(c), iv)
        }
      case GreaterThan(c, v) if colIdx.contains(c) =>
        toInternal(v, c, schema).foreach(tightenLo(colIdx(c), _))
      case GreaterThanOrEqual(c, v) if colIdx.contains(c) =>
        toInternal(v, c, schema).foreach(tightenLo(colIdx(c), _))
      case LessThan(c, v) if colIdx.contains(c) =>
        toInternal(v, c, schema).foreach(tightenHi(colIdx(c), _))
      case LessThanOrEqual(c, v) if colIdx.contains(c) =>
        toInternal(v, c, schema).foreach(tightenHi(colIdx(c), _))
      case _ => ()
    }
    if (boxLo.forall(_ == null) && boxHi.forall(_ == null)) return true
    // box lex-max (unbounded dim = +inf) strictly below the first tuple?
    def boxMaxBelow(bound: Array[Any]): Boolean = {
      var d = 0
      while (d < k) {
        boxHi(d) match {
          case null => return false // +inf at this dim: lex-max >= bound
          case v => cmp(v, bound(d)) match {
            case Some(r) if r < 0 => return true
            case Some(r) if r > 0 => return false
            case Some(_) => // equal: next dim decides
            case None => return false // incomparable: keep
          }
        }
        d += 1
      }
      false // exactly equal to the bound: not below
    }
    // box lex-min (unbounded dim = -inf) strictly above the last tuple?
    def boxMinAbove(bound: Array[Any]): Boolean = {
      var d = 0
      while (d < k) {
        boxLo(d) match {
          case null => return false // -inf: lex-min <= bound
          case v => cmp(v, bound(d)) match {
            case Some(r) if r > 0 => return true
            case Some(r) if r < 0 => return false
            case Some(_) =>
            case None => return false
          }
        }
        d += 1
      }
      false
    }
    !(boxMaxBelow(segLo) || boxMinAbove(segHi))
  }
}


