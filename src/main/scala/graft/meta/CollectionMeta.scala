package graft.meta

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** Per-column min/max/null statistics carried in the manifest; consumed for
  * segment skipping at scan planning time. */
/** Per-segment column statistics. `sum` is the exact integral-column sum
  * (decimal string, overflow-safe), recorded at write for SUM aggregate
  * pushdown; None for non-integral columns and legacy segments. `exact`:
  * whether min/max are the true extrema — long string bounds are
  * TRUNCATED (valid conservative prefix/successor bounds, Iceberg-style)
  * so a text corpus never embeds whole documents in the manifest; segment
  * skipping stays correct with conservative bounds, but MIN/MAX aggregate
  * pushdown must decline when exact = false. */
final case class ColumnStats(min: Option[String], max: Option[String],
    nullCount: Long, sum: Option[String] = None, exact: Boolean = true)

/** Table-level per-column statistics computed by `CALL system.analyze`
  * (ANALYZE TABLE analog) and reported to Spark's cost-based optimizer via
  * the scan's `SupportsReportStatistics.columnStats`. `distinctCount` is
  * HLL-approximate by default (one mergeable pass at 100 TB) or exact on
  * request. min/max carry only for types whose EXTERNAL and Catalyst
  * representations coincide (integral/floating boxed primitives) — the
  * optimizer consumes them raw. avgLen/maxLen are byte/char lengths for
  * string columns, fixed defaultSize otherwise. Stats describe the version
  * analyzed (`Manifest.analyzedVersion`) and go stale like every engine's
  * ANALYZE output; re-run after bulk mutation. */
final case class ColumnStatMeta(
    distinctCount: Long,
    nullCount: Long,
    avgLen: Long,
    maxLen: Long,
    minLong: Option[Long] = None,
    maxLong: Option[Long] = None,
    minDouble: Option[Double] = None,
    maxDouble: Option[Double] = None,
    // Equi-height histogram (numeric columns, optional): bin bounds from
    // one approx_percentile pass, per-bin ndv approximated as
    // distinctCount / bins (equi-height bins hold ~equal ROW counts; the
    // ndv split is the standard uniformity approximation). Powers CBO
    // range-predicate selectivity beyond plain min/max.
    histogram: Seq[HistogramBinMeta] = Nil)

/** One equi-height histogram bin: [lo, hi] plus approximate ndv. */
final case class HistogramBinMeta(lo: Double, hi: Double, ndv: Long)

/** A record-aligned resume point inside a segment: byte `offset` where a
  * record starts, and the in-segment `row` index of that record. Writers
  * emit one roughly every `hadro.splitBytes`; readers turn each inter-point
  * range into its own InputPartition so one oversized segment scans as many
  * parallel tasks instead of one. */
final case class SplitPoint(offset: Long, row: Long)

/** One immutable data segment. `ordinal` is assigned at manifest-commit time
  * and orders records globally: record seq = ordinal << 40 | rowIndex.
  * `indexBlooms` maps a named composite index to this segment's bloom
  * sidecar file for it. `nFields` records how many schema fields existed
  * when the segment was WRITTEN — additive schema evolution (ALTER TABLE
  * ADD COLUMN, nullable) widens the collection schema without rewriting
  * data, and readers decode old segments with their write-time prefix of
  * the schema, null-filling the appended columns. `None` (legacy manifests)
  * means full current width. */
final case class SegmentInfo(
    file: String,
    ordinal: Long,
    rows: Long,
    tombstones: Long,
    bytes: Long,
    stats: Map[String, ColumnStats],
    bloom: Option[String] = None,
    bloomCol: Option[String] = None,
    splits: Seq[SplitPoint] = Nil,
    indexBlooms: Map[String, String] = Map.empty,
    offsetIndex: Option[String] = None,
    nFields: Option[Int] = None,
    bucket: Option[Int] = None,
    // Declared-partitioning tag: the transform VALUE every row of this
    // segment shares (e.g. "20310" for days(ts)). Layout metadata for
    // observability and partition-aware maintenance — pruning itself
    // rides the per-segment min/max stats on the source column, which
    // the per-value routing makes one-partition tight.
    partition: Option[String] = None,
    // Deletion vector (merge-on-read row-level delete for non-keyed
    // collections): sidecar bitmap of physically-deleted in-segment row
    // indices + its cardinality. Immutable per manifest version — a later
    // delete writes a NEW union sidecar.
    deleteVector: Option[String] = None,
    dvDeletes: Long = 0L,
    // Type-widening evolution (ALTER COLUMN ... TYPE, safe promotions
    // only): field ordinal (as string — JSON map keys) -> the DDL type the
    // segment's bytes were WRITTEN with, recorded metadata-only at ALTER
    // time. Readers decode with the write-time type and widen per value;
    // absent = written with the current schema type. Rewrites (compaction,
    // CoW) re-encode at the current type and clear the entry naturally.
    writeTypes: Map[String, String] = Map.empty,
    // Per-BLOCK column stats (Parquet row-group analog, one finer than the
    // segment stats): entry i describes the rows of split range i — block 0
    // is [start, splits(0)), block i is [splits(i-1), splits(i)), the last
    // block runs to EOF — so length is always splits.length + 1. Recorded
    // only for MULTI-block segments (a single-block segment's block stats
    // would duplicate `stats`); empty = no intra-segment pruning. Lets a
    // selective filter over one oversized segment drop whole split ranges
    // at planning time instead of scanning them. String bounds truncate
    // exactly like segment stats; block sums are not recorded (aggregate
    // pushdown stays segment-granular).
    blockStats: Seq[Map[String, ColumnStats]] = Nil,
    // Per-segment trained zstd dictionary sidecar (`<file>.zdict`), present
    // only for `compress = zstd-dict` segments that accumulated enough
    // sample bytes to train. Records carry a flag bit selecting plain vs
    // dictionary frames, so mixed segments (head records plain while the
    // trainer sampled) decode transparently.
    dict: Option[String] = None,
    // COMPOSITE declared-write-order bounds: when this segment was written
    // under a multi-column sort spec, `sortCols` is the comma-joined
    // column list and sortLo/sortHi are the FIRST and LAST row's rendered
    // values on those columns — the segment's exact LEXICOGRAPHIC range,
    // which per-column min/max cannot express for a segment straddling a
    // leading-value boundary (the (tenant, ts) layout's common shape).
    // Writer-verified: any out-of-order or null-valued row drops the
    // bounds, so they are sound even under a lying hadro.sortedBy option.
    // Self-describing per segment (survives respecs; renames remap them).
    sortCols: Option[String] = None,
    sortLo: Seq[String] = Nil,
    sortHi: Seq[String] = Nil,
    // Rewrite provenance: true iff this segment was produced by a
    // DATA-PRESERVING maintenance rewrite (compact / compactSmall /
    // cluster / compactPartitions — same live rows, new packing). The
    // changes-window chain walk uses it to treat an in-window rewrite as
    // TRANSPARENT (its outputs are pre-window rows, not inserts) — the
    // Iceberg skip-replace-snapshots shape — cross-checked against live-
    // row-count conservation, so a mislabeled commit that changed data
    // is still refused unless it also forged exactly-equal counts.
    rewritten: Boolean = false) {
  /** Every physical file this segment owns: the data file plus all sidecar
    * classes. THE live-set unit — GC, clone, publish, tag pinning and
    * orphan detection must all agree on it. */
  def allFiles: Seq[String] =
    Seq(file) ++ bloom ++ offsetIndex ++ indexBlooms.values ++ deleteVector ++ dict
}

/** A committed collection version: the full list of live segments plus
  * collection-level flags. `mutated` records whether any committed write was
  * an upsert/delete — pure-append collections skip last-write-wins
  * resolution entirely (no shuffle on read). `indexes` holds named
  * multi-field secondary indexes (`INTERFACE.md:32-38`): name -> fields,
  * realized as per-segment composite-key bloom sidecars. `generation`
  * increments on every truncate/compaction (which reset segment ordinals):
  * streaming offsets carry it so a tailing stream can DETECT the log it was
  * reading is gone — ordinal comparison alone goes silently wrong once the
  * new log outgrows the old one. */
final case class Manifest(
    version: Long,
    segments: Seq[SegmentInfo],
    mutated: Boolean,
    indexes: Map[String, Seq[String]] = Map.empty,
    streamEpochs: Map[String, Long] = Map.empty,
    generation: Long = 0L,
    // Storage bucketing: every segment tagged `bucket = pmod(xxhash64(
    // bucketBy), numBuckets)` — the contract that lets two co-bucketed
    // collections join with zero exchanges (storage-partitioned join).
    bucketBy: Option[String] = None,
    numBuckets: Option[Int] = None,
    // Declared physical sort: every segment's rows are ordered by this
    // column (set by single-column cluster() rewrites / writes declaring
    // `hadro.sortedBy`; cleared by any write that does not re-declare it).
    // Lets scans report per-partition ordering (SupportsReportOrdering)
    // so Spark's RemoveRedundantSorts drops sorts the storage already did.
    sortedBy: Option[String] = None,
    // Wall-clock commit time (epoch millis), stamped by [[CollectionMeta
    // .commit]]. Powers SQL `TIMESTAMP AS OF` time travel: the version read
    // is the newest one committed at or before the requested instant.
    // 0 = legacy manifest written before timestamps existed.
    committedAtMs: Long = 0L,
    // ANALYZE output: table-level column statistics for the CBO, carried
    // forward by every commit until the next `CALL system.analyze`
    // overwrites them. `analyzedVersion` records the version they
    // describe (-1 = never analyzed) so readers can judge staleness.
    colStats: Map[String, ColumnStatMeta] = Map.empty,
    analyzedVersion: Long = -1L,
    // Ordinal watermark: nextOrdinal never falls below this, even when a
    // metadata-only segment DROP (partition retention) removes the
    // max-ordinal segment. Without it the derived max+1 would REGRESS
    // and the next append would reuse ordinals a tailing stream already
    // consumed — silently skipped rows. Generation-bumping rewrites
    // (truncate, replace) reset it to 0: they restart the ordinal space
    // and the generation change already tells streams so.
    ordinalFloor: Long = 0L,
    // BRANCH commits (write-audit-publish staging): Some(name) marks this
    // manifest as a snapshot of the named branch, NOT of the main line —
    // [[CollectionMeta.currentManifest]] and `TIMESTAMP AS OF` skip it,
    // so staged writes are invisible to every main reader until
    // fast-forward publishes the branch head as a main commit. Branch
    // manifests share the main line's version-number space (one atomic
    // slot-claim protocol for everything); the branch head is pinned via
    // refs.json like a tag, so retention/GC never reclaims staged state.
    branch: Option[String] = None) {
  def nextOrdinal: Long = math.max(ordinalFloor,
    if (segments.isEmpty) 0L else segments.map(_.ordinal).max + 1)
}

/** Collection directory layout and metadata persistence.
  *
  * A collection is a directory (reference `hadro/engine.py:91-97`) holding:
  *   - `_hadro/schema.json` — the StructType + optional key field, realizing
  *     the reference's declared-but-unwritten `00000000.schema`
  *     (`hadro/engine.py:84,99-100`);
  *   - `_hadro/manifest-<v>.json` — versioned segment lists; the newest
  *     version is the committed state. Commits write a temp file then
  *     atomically rename, which gives the declared batch-transaction
  *     semantics (`INTERFACE.md:40-43`): readers see all of a commit's
  *     segments or none.
  *   - `*.data` segment files (multi-segment generalization of the
  *     reference's single `00000000.data`, `hadro/engine.py:83`).
  */
object CollectionMeta {
  private implicit val formats: Formats = DefaultFormats
  private val TmpCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Materialized directory listing that CLOSES the underlying stream — a
    * bare `Files.list(dir).iterator()` holds the directory file descriptor
    * until GC, which adds up in long-lived drivers doing frequent
    * truncate/compaction or catalog operations. */
  private[graft] def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  def metaDir(collection: Path): Path = collection.resolve("_hadro")
  /** Sibling lock for serialized schema read-merge-write (mergeSchema). */
  def schemaLockFile(collection: Path): Path = {
    java.nio.file.Files.createDirectories(metaDir(collection))
    metaDir(collection).resolve("schema.json.lock")
  }

  // ------------------------------------------------------- metadata slots
  // Every singleton JSON file in `_hadro/` is a SLOT: written whole through
  // FileIO.replaceSlot by [[writeSlot]] (readers see the old or the new
  // bytes, never a torn file) and read back by [[readSlot]]. Its
  // declaration below is the slot's whole contract.

  /** One singleton `_hadro` JSON file. `clones`: whether [[cloneSlots]]
    * carries it into a clone — declarative config and index sidecars do;
    * slots naming versions or consumers of THIS history (refs, branches,
    * the consumer registry), or written fresh for the clone (schema,
    * clone origin), do not. `onCorrupt`: why a present file that does not
    * decode must fail loudly; None reads it as absent. */
  private[graft] final case class Slot(file: String, clones: Boolean,
      onCorrupt: Option[String])

  private val SchemaSlot = Slot("schema.json", clones = false,
    Some("refusing to guess the stored schema"))
  // a torn write order only costs the declared sort, so it reads as none
  private val WriteOrderSlot = Slot("writeorder.json", clones = true, None)
  private val ConstraintsSlot = Slot("constraints.json", clones = true,
    Some("refusing to write without enforcement"))
  private val RefsSlot = Slot("refs.json", clones = false,
    Some("refusing to GC while tag pins are unreadable"))
  private val ConsumersSlot = Slot("consumers.json", clones = false,
    Some("refusing consumer-derived retention while the registry is unreadable"))
  private val BranchesSlot = Slot("branches.json", clones = false,
    Some("refusing to operate while branch state is unreadable"))
  private val CloneOriginSlot = Slot("clone-origin.json", clones = false,
    Some("refusing to publish without the stage's base version"))
  private[graft] val IvfCentroidsSlot = Slot("ivf-centroids.json",
    clones = true, Some("refusing to probe without the trained centroids"))
  private[graft] val PqCodebookSlot = Slot("pq-codebook.json",
    clones = true, Some("refusing to probe without the trained codebook"))
  private[graft] val Sq8ParamsSlot = Slot("sq8-params.json",
    clones = true, Some("refusing to decode without the quantizer params"))
  private[graft] val VocabSlot = Slot("vocab.json",
    clones = true, Some("refusing to tokenize without the vocabulary"))
  private val Slots = Seq(SchemaSlot, WriteOrderSlot, ConstraintsSlot,
    RefsSlot, ConsumersSlot, BranchesSlot, CloneOriginSlot,
    IvfCentroidsSlot, PqCodebookSlot, Sq8ParamsSlot, VocabSlot)

  /** Publish `json` as the whole content of `slot` (None deletes it). */
  private[graft] def writeSlot(collection: Path, slot: Slot,
      json: Option[String]): Unit = {
    val dir = metaDir(collection)
    json match {
      case None => Files.deleteIfExists(dir.resolve(slot.file))
      case Some(s) =>
        Files.createDirectories(dir)
        // unique per writer, like commitWith's tmp: System.nanoTime alone
        // can tie across threads, and two writers sharing a tmp file
        // publish one's bytes under the other's name
        val tmp = dir.resolve(
          s"${slot.file}.tmp${System.nanoTime()}-${TmpCounter.incrementAndGet()}")
        Files.write(tmp, s.getBytes(StandardCharsets.UTF_8))
        FileIO.impl.replaceSlot(tmp, dir.resolve(slot.file))
    }
  }

  /** [[writeSlot]] of a json4s-serialized map or list; empty deletes. */
  private[graft] def writeEntries(collection: Path, slot: Slot,
      xs: Iterable[Any]): Unit =
    writeSlot(collection, slot,
      if (xs.isEmpty) None else Some(Serialization.write(xs)))

  /** `slot` decoded, None when absent. A present file that does not
    * parse or decode throws naming the file, unless the slot reads
    * corruption as absence. */
  private def readSlot[T](collection: Path, slot: Slot)(
      decode: JValue => T): Option[T] = {
    val f = metaDir(collection).resolve(slot.file)
    if (!Files.exists(f)) None
    else try {
      Some(decode(JsonMethods.parse(
        new String(Files.readAllBytes(f), StandardCharsets.UTF_8))))
    } catch {
      case _: java.nio.file.NoSuchFileException => None // deleted meanwhile
      case e: Exception => slot.onCorrupt match {
        case None => None
        case Some(why) => throw new IllegalStateException(
          s"hadro: corrupt metadata file $f — $why (${e.getMessage})")
      }
    }
  }

  /** [[readSlot]] extracting a plain json4s shape. */
  private[graft] def readJson[T: scala.reflect.Manifest](collection: Path,
      slot: Slot): Option[T] =
    readSlot(collection, slot)(_.extract[T])

  /** Copy every slot that rides a clone from `src` into `dst`, bytes as
    * they are. */
  private[graft] def cloneSlots(src: Path, dst: Path): Unit =
    Slots.filter(_.clones).foreach { slot =>
      val f = metaDir(src).resolve(slot.file)
      if (Files.exists(f)) writeSlot(dst, slot,
        Some(new String(Files.readAllBytes(f), StandardCharsets.UTF_8)))
    }

  /** Where a clone branched from: (source directory, source version). */
  private[graft] def readCloneOrigin(collection: Path): Option[(String, Long)] =
    readSlot(collection, CloneOriginSlot)(root =>
      ((root \ "source").extract[String], (root \ "version").extract[Long]))

  private[graft] def writeCloneOrigin(collection: Path, source: Path,
      version: Long): Unit =
    writeSlot(collection, CloneOriginSlot, Some(Serialization.write(Map(
      "source" -> source.toAbsolutePath.toString, "version" -> version))))

  // ------------------------------------------------------------- schema

  /** `bucketBy`/`numBuckets`: declared storage bucketing (e.g. SQL
    * `PARTITIONED BY (bucket(8, key))`) — writes without explicit bucket
    * options inherit it, so every append keeps the collection join-ready. */
  /** `compress`: collection-level payload codec ("zstd"), fixed at
    * creation — every writer (batch, delta, streaming, CoW rewrite)
    * consults it, so compressed and plain segments never mix by accident
    * (records stay self-describing via the flag bit regardless). */
  /** `partitionBy`/`partitionTransform`: declared value partitioning (e.g.
    * SQL `PARTITIONED BY (days(ts))` or `PARTITIONED BY (region)`) — every
    * write routes rows to one segment per transform VALUE it sees, so the
    * existing per-segment min/max stats on the source column become
    * one-partition tight and range filters prune whole partitions at
    * planning time. Transform names: identity, years, months, days,
    * hours. Mutually exclusive with bucketing. */
  /** `priorPartitionTransforms`: forward-only partition-spec evolution
    * history (oldest first) — e.g. `Seq("days")` after a days→hours
    * respec. Segments written under a prior spec keep their coarser tags
    * (pruning is stats-based and unaffected); the history is
    * observability plus the respec validator's forward-only check. */
  final case class SchemaMeta(schema: StructType, keyField: Option[String],
      bucketBy: Option[String] = None, numBuckets: Option[Int] = None,
      compress: Option[String] = None,
      partitionBy: Option[String] = None,
      partitionTransform: Option[String] = None,
      priorPartitionTransforms: Seq[String] = Nil)

  /** DROPPED-column marker: the stored schema is the PHYSICAL layout — a
    * dropped column's field stays in it under this reserved name (record
    * decode is positional, so its position and type must be known forever
    * to skip its bytes), but every reported schema filters it out. New
    * writes null-fill dropped slots (one bitmap bit per row); re-adding
    * the same logical name later appends a FRESH physical field, so old
    * values can never resurrect. */
  val DroppedPrefix = "__graft_dropped_"
  def isDropped(f: org.apache.spark.sql.types.StructField): Boolean =
    f.name.startsWith(DroppedPrefix)

  // ------------------------------------------------- column default values
  // Spark's OWN StructField metadata keys for column defaults: storing
  // under these names makes the analyzer fill INSERTs that omit the column
  // (CURRENT_DEFAULT, given the catalog declares the capability), while
  // EXISTS_DEFAULT carries the frozen at-ALTER-time literal that readers
  // back-fill into segments written before the column existed.
  val CurrentDefaultKey = "CURRENT_DEFAULT"
  val ExistsDefaultKey = "EXISTS_DEFAULT"

  /** Constant-fold a default-value SQL text to a Catalyst literal of
    * `dt`. Fails (Left) on unparseable/non-foldable/uncastable input —
    * callers at ALTER time surface that; read-time callers only ever see
    * texts this validated. */
  def foldDefault(sqlText: String,
      dt: DataType): Either[String, org.apache.spark.sql.catalyst.expressions.Literal] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    try {
      val e = org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sqlText)
      if (!e.foldable) Left(s"DEFAULT '$sqlText' is not a constant expression")
      else {
        val v = Cast(e, dt, Some("UTC")).eval(null)
        if (v == null && e.eval(null) != null)
          Left(s"DEFAULT '$sqlText' cannot be cast to ${dt.simpleString}")
        else Right(Literal(v, dt))
      }
    } catch {
      case ex: Exception => Left(s"DEFAULT '$sqlText' failed to parse: ${ex.getMessage}")
    }
  }

  /** The read-time back-fill value for a field added with a DEFAULT:
    * segments written before the field existed read this instead of null.
    * None = no default (plain additive evolution: null-fill). Catalyst
    * representation, ready for InternalRow/vector fill. */
  def defaultValueOf(f: org.apache.spark.sql.types.StructField): Option[Any] =
    if (!f.metadata.contains(ExistsDefaultKey)) None
    else foldDefault(f.metadata.getString(ExistsDefaultKey), f.dataType)
      .toOption.map(_.value).filter(_ != null)
  /** The user-visible view of a physical schema: dropped slots hidden. */
  def logicalSchema(physical: StructType): StructType =
    StructType(physical.fields.filterNot(isDropped))

  def writeSchema(collection: Path, schema: StructType, keyField: Option[String],
      bucketBy: Option[String] = None, numBuckets: Option[Int] = None,
      compress: Option[String] = None,
      partitionBy: Option[String] = None,
      partitionTransform: Option[String] = None,
      priorPartitionTransforms: Seq[String] = Nil): Unit = {
    // every collection (re)creation passes through here: drop any cached
    // manifests a previous incarnation at this path left behind
    invalidateManifestCache(collection)
    writeSlot(collection, SchemaSlot, Some(Serialization.write(Map(
      "sparkSchema" -> JsonMethods.parse(schema.json),
      "keyField" -> keyField,
      "bucketBy" -> bucketBy,
      "numBuckets" -> numBuckets,
      "compress" -> compress,
      "partitionBy" -> partitionBy,
      "partitionTransform" -> partitionTransform,
      "priorPartitionTransforms" -> priorPartitionTransforms))))
  }

  /** True when the collection is CREATED AND READABLE: its schema slot
    * exists and at least one manifest ever committed. The two land as
    * separate commits (schema slot, then manifest v1), so a crash
    * between them leaves a half-created directory that [[readSchema]]
    * alone would misreport as existing — a replaying loop operator
    * would then try to SCAN it and fail on "version 0 not available".
    * Existence checks that route crash replays (the incremental
    * dedup/components/curation loops) use this; the healing write is
    * whatever the not-exists branch does (mode overwrite re-publishes
    * both). */
  def collectionCommitted(collection: Path): Boolean =
    (try readSchema(collection).isDefined
    catch { case _: Exception => false }) &&
      currentManifest(collection).version > 0L

  def readSchema(collection: Path): Option[SchemaMeta] =
    readSlot(collection, SchemaSlot) { root =>
      // plain pattern matches, not reflective extraction: every scan
      // plan reads the schema
      def str(k: String): Option[String] = root \ k match {
        case JString(s) => Some(s)
        case _ => None
      }
      SchemaMeta(DataType.fromJson(JsonMethods.compact(root \ "sparkSchema"))
          .asInstanceOf[StructType],
        str("keyField"), str("bucketBy"),
        root \ "numBuckets" match {
          case JInt(n) => Some(n.toInt)
          case _ => None
        },
        str("compress"), str("partitionBy"), str("partitionTransform"),
        root \ "priorPartitionTransforms" match {
          case JArray(xs) => xs.collect { case JString(s) => s }
          case _ => Nil
        })
    }

  // ---------------------------------------------------------- write order

  /** Table-declared write order (Iceberg `WRITE ORDERED BY` analog),
    * declared via `TBLPROPERTIES ('sortedBy' = '<col>')`: catalog batch
    * writes require a within-partition sort on this column
    * (RequiresDistributionAndOrdering — Spark plans the Sort), so plain
    * INSERTs land range-sorted segments and keep the manifest's
    * `sortedBy` declaration alive without manual cluster() rewrites. A
    * declarative config sidecar like constraints.json: clones carry it;
    * fresh histories re-establish it on their first catalog write. */
  def readWriteOrder(collection: Path): Option[String] =
    readSlot(collection, WriteOrderSlot)(root => (root \ "sortedBy") match {
      case JString(s) if s.nonEmpty => Some(s)
      case _ => None
    }).flatten

  def writeWriteOrder(collection: Path, col: Option[String]): Unit =
    writeSlot(collection, WriteOrderSlot,
      col.map(c => Serialization.write(Map("sortedBy" -> c))))

  // ---------------------------------------------------------- constraints
  // CHECK constraints: `_hadro/constraints.json` maps constraint name ->
  // SQL boolean expression over the row. Declared via TBLPROPERTIES
  // ('constraint.<name>' = '<expr>') at CREATE or ALTER ... SET; enforced
  // DISTRIBUTED at write time (every writer task evaluates the codegen'd
  // predicate per row — SQL CHECK semantics: NULL passes, FALSE fails the
  // task before anything commits) and RETROACTIVELY at ALTER time on
  // populated tables (one scan job proves existing rows comply). Atomic
  // whole-map replace, like refs.

  /** All CHECK constraints: name -> SQL expression text. A present-but-
    * unparseable file FAILS LOUDLY: silently reading "no constraints"
    * would disable enforcement on every subsequent write. */
  def readConstraints(collection: Path): Map[String, String] =
    readJson[Map[String, String]](collection, ConstraintsSlot).getOrElse(Map.empty)

  def writeConstraints(collection: Path, cs: Map[String, String]): Unit =
    writeEntries(collection, ConstraintsSlot, cs)

  // ----------------------------------------------------------------- refs
  // Named refs (Iceberg tag analog): `_hadro/refs.json` maps tag name ->
  // manifest version. A tagged version is PINNED: its manifest survives
  // every retention sweep (count-based ageout, age-based expire, rewrite
  // GC) and its segment/sidecar files are excluded from deferred physical
  // GC — so `VERSION AS OF 'tag'` keeps planning across compaction,
  // truncate and CoW rewrites until the tag is dropped. The whole map is
  // replaced atomically (tmp + rename); tag ops are maintenance verbs, so
  // last-writer-wins on concurrent SAME-INSTANT tag edits is acceptable
  // and documented, unlike manifest commits which retry on races.

  /** All named refs: tag name -> pinned manifest version. A present-but-
    * unparseable file FAILS LOUDLY: silently reading "no tags" would hand
    * every pinned snapshot's manifest and files to the next GC sweep. */
  def readRefs(collection: Path): Map[String, Long] =
    readJson[Map[String, Long]](collection, RefsSlot).getOrElse(Map.empty)

  private def writeRefs(collection: Path, refs: Map[String, Long]): Unit =
    writeEntries(collection, RefsSlot, refs)

  /** Pin `version` under `name`. The version must be currently retained AND
    * reconstructable (same fail-fast as time travel) — a tag protects
    * history going FORWARD; it cannot resurrect what GC already took. */
  def setRef(collection: Path, name: String, version: Long): Unit = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9._-]+"),
      s"hadro: invalid tag name '$name' (allowed: letters, digits, . _ -)")
    // all-digit names are reserved for VERSION NUMBERS: every resolution
    // surface (VERSION AS OF, startingVersion) tries a numeric parse, so a
    // tag '7' would name version 7 on one surface and version tagged-'7'
    // on another — the same identifier must never mean two snapshots
    require(!name.forall(_.isDigit),
      s"hadro: tag name '$name' is all digits — reserved for version numbers")
    manifestAt(collection, version) // validates retention + reconstructability
    // under the ref lock: a concurrent tag creation / branch-head move is
    // a read-modify-write on the same file — unserialized, one SILENTLY
    // loses its pin and GC may later eat that snapshot
    withBranchLock(collection) {
      writeRefs(collection, readRefs(collection) + (name -> version))
    }
  }

  /** Drop a named ref. Returns whether it existed. The pinned version's
    * manifest stays on disk until the next retention sweep. Dropping a
    * cursor tag decommissions its consumer, so any consumer-registry
    * entry under the same name goes with it (even when the ref itself is
    * already gone — a crash between the two removals must be re-runnable
    * to completion, or [[readConsumers]] carries a dangling entry that
    * blocks retention forever). */
  def dropRef(collection: Path, name: String): Boolean =
    withBranchLock(collection) {
      val cons = readConsumers(collection)
      if (cons.contains(name)) writeConsumers(collection, cons - name)
      val refs = readRefs(collection)
      if (!refs.contains(name)) false
      else { writeRefs(collection, refs - name); true }
    }

  /** Cursor tags only: named refs minus branch heads (branches are
    * writers, not consumers). ONE definition of "consumer-shaped tag"
    * for the consumers metadata table and the retention verbs. */
  def cursorTags(collection: Path): Map[String, Long] = {
    val branches = readBranches(collection).keySet
    readRefs(collection).filterNot { case (n, _) => branches.contains(n) }
  }

  // --------------------------------------------------- consumer registry

  /** The CONSUMER REGISTRY: cursor-tag name → the canonical directory of
    * the state that consumer maintains, written by the consumer itself
    * (componentsCycle) alongside its tag move. Retention verbs that
    * derive a replacement for consumed history FROM a state
    * (sweepPairs's star rewrite) require the state they were handed to
    * be registered here — a cursor tag alone proves somebody consumed
    * the log, not that THIS state is that somebody, and deriving the
    * replacement from the wrong state silently destroys the log. A
    * present-but-unparseable file fails loudly for the same reason the
    * refs file does: guessing "no consumers" would green-light exactly
    * the destructive rewrite the registry exists to block. */
  def readConsumers(collection: Path): Map[String, String] =
    readJson[Map[String, String]](collection, ConsumersSlot).getOrElse(Map.empty)

  private def writeConsumers(collection: Path,
      cons: Map[String, String]): Unit =
    writeEntries(collection, ConsumersSlot, cons)

  /** Canonical form both the registering consumer and the checking verb
    * reduce a state directory to, so path spelling never defeats the
    * registry match. */
  def canonicalStateDir(statePath: String): String =
    java.nio.file.Paths.get(statePath).toAbsolutePath.normalize.toString

  /** Record (idempotently) that cursor `tag` on this collection is
    * maintained into `dest` — the consumer's destination AS THE CONSUMER
    * NAMES IT (callers that need path-identity matching, like the
    * sweepPairs registry check, canonicalize via [[canonicalStateDir]]
    * on BOTH the register and check sides; catalog-name destinations —
    * the rollup consumers — register the name verbatim). Steady-state
    * cycles skip the write entirely — no extra commit point per
    * window. */
  def registerConsumer(collection: Path, tag: String,
      dest: String): Unit = {
    if (!readConsumers(collection).get(tag).contains(dest))
      withBranchLock(collection) {
        val cur = readConsumers(collection)
        if (!cur.get(tag).contains(dest))
          writeConsumers(collection, cur + (tag -> dest))
      }
  }

  /** Versions pinned by any ref — excluded from every manifest GC path. */
  private def taggedVersions(collection: Path): Set[Long] =
    readRefs(collection).values.toSet

  /** Every file name referenced by a tagged (and still present) manifest:
    * data segments plus all sidecar classes. Unioned into the live set by
    * [[deferredGc]]/[[purgeDeferred]], so physical GC never reclaims a
    * pinned snapshot's bytes. O(#tags × #segments) manifest JSON reads —
    * metadata-scale, only on GC paths. */
  private def taggedLiveFiles(collection: Path): Set[String] =
    taggedVersions(collection).iterator.flatMap { v =>
      try {
        val segs = readManifest(collection, v).segments
        segs.iterator.flatMap(_.allFiles)
      } catch { case _: Exception => Iterator.empty }
    }.toSet

  // ----------------------------------------------------------- manifest

  private val ManifestRe = "manifest-(\\d{10})\\.json".r

  private def manifestFile(collection: Path, v: Long): Path =
    metaDir(collection).resolve(f"manifest-$v%010d.json")

  /** Every manifest version on disk — filled, claimed-but-unfilled or
    * torn — ascending. The one parse of the `manifest-NNNNNNNNNN.json`
    * names. */
  private def manifestVersions(collection: Path): Seq[Long] = {
    val dir = metaDir(collection)
    if (!Files.exists(dir)) Nil
    else listDir(dir).flatMap(p => p.getFileName.toString match {
      case ManifestRe(v) => Some(v.toLong)
      case _ => None
    }).sorted
  }

  /** The newest parseable MAIN manifest (empty before the first commit). */
  def currentManifest(collection: Path): Manifest = scanHeads(collection)._1

  /** ONE directory scan yielding (newest parseable MAIN manifest, newest
    * parseable version of EITHER line) — the committer's view. The pair
    * MUST come from a single listing: reading them separately lets a
    * concurrent fill land between the two reads, and a committer that
    * then claims past the filled slot has based its update on pre-fill
    * state — a lost update (caught by RobustnessSpec's contention
    * property). In-flight claimed-but-unfilled slots are deliberately NOT
    * counted in either component: a committer must collide with them and
    * back off. The same fallback serves plain readers: a read while a
    * concurrent committer's claimed slot is still empty must land on the
    * newest PARSEABLE version — momentarily stale, never broken. Branch
    * manifests (staged write-audit-publish state) are never the main
    * head: skipped like the in-flight slots. */
  private def scanHeads(collection: Path): (Manifest, Long) = {
    var maxParseable = 0L
    var main: Option[Manifest] = None
    val it = manifestVersions(collection).reverseIterator
    while (main.isEmpty && it.hasNext) {
      val v = it.next()
      try {
        val m = readManifest(collection, v)
        if (maxParseable == 0L) maxParseable = v
        if (m.branch.isEmpty) main = Some(m)
      } catch { case _: Exception => () }
    }
    (main.getOrElse(Manifest(0L, Nil, mutated = false)), maxParseable)
  }

  /** Every retained (parseable) manifest version — the commit history. */
  def retainedManifests(collection: Path): Seq[Manifest] =
    manifestVersions(collection)
      .flatMap(v => try Some(readManifest(collection, v)) catch { case _: Exception => None })

  /** Driver-side parse cache for manifest JSON. A LIVE collection's
    * manifest file is WRITE-ONCE (the commit protocol fills a claimed
    * slot with one ATOMIC_MOVE; version numbers only grow), so caching by
    * path is sound — EXCEPT across a delete-and-recreate of the whole
    * collection at the same path, where the version space restarts and
    * `manifest-0000000001.json` names brand-new content (a test/bench
    * fixture rebuild is exactly this; stale hits there surface as
    * FileNotFound on long-dead segment names). Two guards close it:
    * the cache entry is validated by (size, mtime, content fingerprint)
    * — a refill virtually never preserves size and mtime, and even on a
    * coarse-mtime filesystem (1 s ticks) where an external rebuild (rsync
    * of a _hadro directory in place, bypassing writeSchema) lands a
    * same-size file within the same tick, the head+tail-16-byte
    * fingerprint re-read catches the content change (the version number
    * sits in the head bytes) — and [[writeSchema]], the choke point every
    * in-engine (re)creation passes through, drops the path's entries
    * outright.
    * The claimed-but-unfilled window needs no care: an empty slot fails
    * to parse and is never cached. At 100 TB planning cadence this is
    * one JSON parse per manifest instead of one per QUERY — history,
    * time travel, vacuum, and GC sweeps re-read every retained version
    * otherwise. Bounded by a full reset at the cap: cheaper than LRU
    * bookkeeping and still amortizes battery-scale workloads. */
  private val ManifestCacheMax = 512
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, java.nio.file.attribute.FileTime, Long, Manifest)]()

  /** Cheap content fingerprint: the first and last 16 bytes folded to a
    * long. Two small positioned reads — orders of magnitude cheaper than
    * the full read + JSON parse a miss costs, and the manifest's version
    * number lives in the head bytes, so distinct versions always differ. */
  private def manifestFingerprint(f: Path, size: Long): Long = {
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.READ)
    try {
      val head = java.nio.ByteBuffer.allocate(16)
      ch.read(head, 0L)
      val tail = java.nio.ByteBuffer.allocate(16)
      ch.read(tail, math.max(0L, size - 16))
      var h = 1125899906842597L
      head.flip(); while (head.hasRemaining) h = h * 31 + head.get()
      tail.flip(); while (tail.hasRemaining) h = h * 31 + tail.get()
      h
    } finally ch.close()
  }

  private[graft] def invalidateManifestCache(collection: Path): Unit = {
    val prefix = metaDir(collection).toAbsolutePath.toString
    manifestCache.keySet.removeIf(_.startsWith(prefix))
  }

  /** Metadata-only read of a retained manifest version: the segment list
    * as committed, WITHOUT [[manifestAt]]'s segment-file reconstructability
    * check — for consumers that walk manifest HISTORY (the changes-window
    * chain walk classifying in-window commits) and never open the bytes of
    * superseded segments. An aged-out manifest fails with [[manifestAt]]'s
    * documented not-available error, never a raw NoSuchFileException. */
  def manifestMetaAt(collection: Path, v: Long): Manifest = {
    if (!Files.exists(manifestFile(collection, v)))
      missingVersion(collection, v)
    readManifest(collection, v)
  }

  private def missingVersion(collection: Path, version: Long): Nothing = {
    // report the versions ACTUALLY on disk, not the nominal KeepVersions
    // window: compaction GC removes unreconstructable older manifests
    // regardless of count, and "retained: 1..10" for a missing version 2
    // sent one debugging session in exactly the wrong direction
    val have = manifestVersions(collection)
    val desc =
      if (have.isEmpty) "none retained"
      else if (have.size <= 8) s"retained: ${have.mkString(", ")}"
      else s"retained: ${have.size} versions in ${have.min}..${have.max}"
    throw new IllegalArgumentException(
      s"hadro: version $version not available for $collection ($desc; " +
        "tag a version to pin it against retention)")
  }

  private def readManifest(collection: Path, v: Long): Manifest = {
    val f = manifestFile(collection, v)
    val attrs = Files.readAttributes(f, // missing file throws, as before
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val (size, mtime) = (attrs.size(), attrs.lastModifiedTime())
    val key = f.toAbsolutePath.toString
    val hit = manifestCache.get(key)
    if (hit != null && hit._1 == size && hit._2 == mtime &&
        hit._3 == manifestFingerprint(f, size)) return hit._4
    val m = JsonMethods.parse(new String(
      Files.readAllBytes(f), StandardCharsets.UTF_8)).extract[Manifest]
    if (manifestCache.size >= ManifestCacheMax) manifestCache.clear()
    manifestCache.put(key, (size, mtime, manifestFingerprint(f, size), m))
    m
  }

  /** Snapshot read of a specific committed version (time travel). Fails
    * fast with the retained range when the version has been GC'd, and when
    * the manifest survives but its segments were physically dropped by a
    * later compaction/truncate (no FileNotFoundException deep in a reader). */
  def manifestAt(collection: Path, version: Long): Manifest = {
    if (!Files.exists(manifestFile(collection, version)))
      missingVersion(collection, version)
    val m = readManifest(collection, version)
    val missing = m.segments.filterNot(s => Files.exists(collection.resolve(s.file)))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"hadro: version $version of $collection crosses a compaction/truncate — " +
          s"${missing.size} of its segments were rewritten (first: ${missing.head.file}). " +
          "Only versions since the last compaction are reconstructable.")
    m
  }

  /** The newest retained version committed at or before `tsMicros`
    * (microseconds since epoch — the unit Spark's `TIMESTAMP AS OF` hands a
    * catalog). Legacy manifests without a stamp (committedAtMs = 0) match
    * any non-negative instant. Fails fast when every retained version is
    * newer than the instant — the caller asked for a state that predates
    * the retained history. */
  def versionAsOfTimestamp(collection: Path, tsMicros: Long): Long = {
    val tsMs = Math.floorDiv(tsMicros, 1000L)
    // main-line history only: staged branch snapshots are not "the table
    // as of <instant>" until fast-forward publishes them
    val retained = retainedManifests(collection).filter(_.branch.isEmpty)
    retained.filter(_.committedAtMs <= tsMs) match {
      case Nil =>
        val earliest = retained.headOption.map(_.committedAtMs).getOrElse(0L)
        throw new IllegalArgumentException(
          s"hadro: no version of $collection committed at or before " +
            s"epoch-ms $tsMs (earliest retained: epoch-ms $earliest)")
      case hits => hits.map(_.version).max
    }
  }

  /** Deferred physical GC for truncate/compaction, protecting in-flight
    * readers: files dereferenced by THIS truncate are only recorded (a
    * `dead-<nanos>.json` slot); what gets physically deleted now are the
    * files recorded by the PREVIOUS truncate — any reader that planned
    * against a manifest from before that is long finished. One garbage
    * generation is outstanding at a time: space is reclaimed at the next
    * truncate/compaction (or [[purgeDeferred]]), and open POSIX handles keep
    * streaming even if deletion races an active read. */
  def deferredGc(collection: Path, live: Set[String]): Unit = {
    val keep = live ++ taggedLiveFiles(collection)
    purgeWith(collection, keep) // keep already includes the tag pins
    val dead = listDir(collection).map(_.getFileName.toString)
      .filter(n => isSegmentFile(n) && !keep(n)).sorted
    if (dead.nonEmpty)
      writeEntries(collection, deadList(s"dead-${System.nanoTime()}.json"), dead)
  }

  /** A segment data file or one of its sidecar classes (bloom, key→offset
    * index, deletion vector, zstd dictionary): the files a collection
    * directory owns through its manifests, and so the only ones deferred
    * GC and orphan detection ever consider. */
  private[graft] def isSegmentFile(name: String): Boolean =
    name.endsWith(".data") || name.endsWith(".bloom") ||
      name.endsWith(".koff") || name.endsWith(".dv") || name.endsWith(".zdict")

  private def deadList(file: String): Slot = Slot(file, clones = false,
    Some("refusing to judge file ownership while a dead-list is unreadable"))

  /** The deferred-GC dead-lists on disk. */
  private def deadLists(collection: Path): Seq[Slot] = {
    val dir = metaDir(collection)
    if (!Files.exists(dir)) Nil
    else listDir(dir).map(_.getFileName.toString)
      .filter(_.matches("dead-\\d+\\.json")).map(deadList)
  }

  /** Every file name a dead-list records: owned by the deferred GC, so
    * never an orphan. An unreadable dead-list throws — reading it as
    * empty would hand the files it schedules to orphan removal. */
  def deadListed(collection: Path): Set[String] =
    deadLists(collection).flatMap(dl =>
      readJson[Seq[String]](collection, dl).getOrElse(Nil)).toSet

  /** Delete every file recorded dead by earlier truncates (skipping any that
    * a later commit somehow re-references) and drop the dead-lists. */
  def purgeDeferred(collection: Path, live: Set[String]): Unit =
    purgeWith(collection, live ++ taggedLiveFiles(collection))

  /** [[purgeDeferred]] with the tag pins ALREADY unioned in — lets
    * [[deferredGc]] read the tagged manifests once per cycle, not twice.
    * An unreadable dead-list is skipped and left in place: its files
    * leak until an operator looks, which [[deadListed]] makes loud. */
  private def purgeWith(collection: Path, keep: Set[String]): Unit =
    deadLists(collection).foreach { dl =>
      try {
        val (pinned, purgeable) =
          readJson[Seq[String]](collection, dl).getOrElse(Nil).partition(keep)
        purgeable.foreach(n => Files.deleteIfExists(collection.resolve(n)))
        // Tag-pinned names stay RECORDED dead: rewriting (not dropping)
        // the dead-list lets a later sweep reclaim them once the tag is
        // gone — deleting it here would leak those files forever.
        writeEntries(collection, dl, pinned)
      } catch { case _: Exception => () }
    }

  /** Drop every manifest older than `version` — used after truncate/compact,
    * whose physical segment GC makes pre-compaction versions
    * unreconstructable; deleting their manifests turns a late reader
    * FileNotFoundException into [[manifestAt]]'s documented fail-fast. */
  def gcManifestsBefore(collection: Path, version: Long): Unit = {
    val tagged = taggedVersions(collection)
    manifestVersions(collection).filter(v => v < version && !tagged(v))
      .foreach(v => try Files.deleteIfExists(manifestFile(collection, v))
        catch { case _: Exception => () })
  }

  /** AGE-based manifest retention (`expire_snapshots` analog): drop every
    * retained manifest committed strictly before `cutoffMs` — except the
    * current head, which always survives — and sweep the sidecars only the
    * dying manifests referenced (same two classes as the count-based
    * ageout: superseded index blooms and superseded deletion vectors).
    * Complements KeepVersions (count-based, automatic): an operator
    * running daily maintenance at 100 TB bounds history by TIME — "keep a
    * week of rollback" — independent of commit frequency. Returns the
    * number of manifests expired. Legacy manifests without a commit stamp
    * (committedAtMs = 0) count as infinitely old. */
  def expireManifestsOlderThan(collection: Path, cutoffMs: Long): Int = {
    val cur = currentManifest(collection)
    val tagged = taggedVersions(collection)
    val aged = retainedManifests(collection)
      .filter(m => m.version != cur.version && m.committedAtMs < cutoffMs &&
        !tagged(m.version))
    ageOut(collection, aged.map(_.version))
    aged.size
  }

  /** Manifest versions kept behind the newest one (readers planning against
    * an older version finish against its immutable segment files; only the
    * manifest JSONs are GC'd, never data). Bounds metadata growth to
    * O(KeepVersions) regardless of commit count. */
  val KeepVersions = 16

  /** Count-based ageout after publishing `newest`. `mainHead` is the main
    * line's head as the committer knows it — the version it just published
    * on a main commit, the head its own scan found on a branch commit. */
  private def gcOldManifests(collection: Path, newest: Long,
      mainHead: Long): Unit = {
    val tagged = taggedVersions(collection)
    // Consumer-lag retention: a TAG does not just pin its own version —
    // every manifest AT OR ABOVE the lowest tag survives count-based
    // ageout, because an incremental consumer whose cursor tag sits at
    // version P replays (P, head] through the manifest CHAIN (the
    // changes-window walk across rewrites needs every in-window
    // manifest's metadata). Retention is therefore bounded by consumer
    // lag, exactly the Kafka-retention tradeoff: drop the cursor tag
    // (or advance it) and the backlog ages out normally. With no tags,
    // behavior is the plain KeepVersions window.
    val minPin =
      if (tagged.isEmpty) Long.MaxValue else tagged.min
    // The MAIN head is sacred regardless of version distance: branch
    // commits inflate the shared version space, so after KeepVersions+
    // staged commits the main head would otherwise fall past the cutoff
    // and be deleted — currentManifest would then read an EMPTY main
    // line (silent total data loss; BranchSpec pins this). Branch heads
    // are refs and already in `tagged`. A main head published after the
    // committer's scan is newer than `newest` and never aged here.
    ageOut(collection, manifestVersions(collection).filter(v =>
      v < newest - KeepVersions && !tagged(v) && v != mainHead && v < minPin))
  }

  /** Delete the manifests `versions` and the sidecars only they referenced.
    * Index sidecars are the ONE file class a plain-write ageout can
    * uniquely own: data/bloom/koff files stay referenced by the current
    * manifest on append-only flows, and compaction/truncate dereference
    * them through their own deferred GC. A superseded index build's
    * sidecars, though, may be referenced ONLY by manifests dying here —
    * without this sweep they leak until the next index op or compaction.
    * Superseded delete vectors age out exactly like superseded index
    * builds: a newer DELETE's union vector replaces the old sidecar in
    * later manifests, so the old file may be referenced only by manifests
    * dying here. Shared by count-based and age-based ageout. */
  private def ageOut(collection: Path, versions: Seq[Long]): Unit = {
    def ageable(m: Manifest): Seq[String] =
      m.segments.flatMap(s => s.indexBlooms.values ++ s.deleteVector)
    val dying = versions.flatMap(v =>
      try ageable(readManifest(collection, v)) catch { case _: Exception => Nil }).toSet
    versions.foreach(v => try Files.deleteIfExists(manifestFile(collection, v))
      catch { case _: Exception => () })
    if (dying.nonEmpty) {
      val live = retainedManifests(collection).flatMap(ageable).toSet
      (dying -- live).foreach(n =>
        try Files.deleteIfExists(collection.resolve(n)) catch { case _: Exception => () })
    }
  }

  /** Atomically publish a new manifest version. Retries on version races
    * (two committers picking the same next version) — the loser re-reads and
    * re-applies on top of the winner. `update` maps the current manifest to
    * the desired next state (same-version content is rewritten with v+1).
    * Returning the input manifest UNCHANGED (same reference) aborts: no
    * version is published and the current manifest is returned — this is how
    * callers make decide-then-commit atomic (e.g. streaming replay checks
    * re-run INSIDE the closure, so a zombie driver racing a failover cannot
    * double-publish an epoch). */
  def commit(collection: Path, update: Manifest => Manifest): Manifest =
    commitWith(collection, baseOverride = None, update, branch = None)

  /** One-shot consumer-cursor stamps ([[IncrementalRollup]]'s
    * exactly-once seam): [[registerCommitEpoch]] arms the NEXT successful
    * manifest commit on `collection` to also record
    * `streamEpochs + (key -> version)` — the same per-manifest
    * bookkeeping the streaming sink uses for epoch replay detection — so
    * "apply this window" (the MERGE's segment commit) and "remember it is
    * applied" become ONE atomic publish, the Delta txn-id shape. The
    * stamp survives commit retries (version races re-apply it on the
    * re-read base) and is disarmed by the successful publish or
    * [[clearCommitEpoch]]. Force-set: the caller serializes its own
    * cycles, and a re-bootstrap must be able to lower the record.
    *
    * THREAD-LOCAL, keyed by path within the thread: the stamp must ride
    * the registering consumer's OWN commit (its MERGE runs on this
    * thread, register → commit with nothing in between). A shared map
    * would let any concurrent committer on the same collection — a
    * second consumer with a different cursor tag, a maintenance write —
    * consume or overwrite the stamp, recording the window as applied
    * BEFORE the MERGE actually commits; a crash then permanently skips
    * that window. Thread binding makes foreign commits invisible to the
    * stamp by construction (each consumer cycle is single-threaded:
    * Spark runs eager commands and their driver-side manifest commit on
    * the calling thread). */
  private val pendingEpochs =
    new ThreadLocal[scala.collection.mutable.Map[Path, (String, Long)]] {
      override def initialValue(): scala.collection.mutable.Map[Path, (String, Long)] =
        scala.collection.mutable.Map.empty
    }
  def registerCommitEpoch(collection: Path, key: String, version: Long): Unit = {
    pendingEpochs.get.put(collection.toAbsolutePath.normalize, (key, version))
    ()
  }
  def clearCommitEpoch(collection: Path): Unit = {
    pendingEpochs.get.remove(collection.toAbsolutePath.normalize)
    ()
  }

  /** True while a [[registerCommitEpoch]] stamp for `collection` is
    * still armed on THIS thread — i.e. no successful commit on this
    * thread has consumed it yet. The exactly-once POST-check rides
    * this: a consumer whose MERGE committed must find the stamp gone;
    * armed + a new manifest missing the entry means the commit ran on
    * some other thread and the applied-version record was silently
    * dropped ([[graft.api.IncrementalRollup]] turns that protocol
    * downgrade into an immediate error). */
  def commitEpochArmed(collection: Path): Boolean =
    pendingEpochs.get.contains(collection.toAbsolutePath.normalize)

  /** [[commit]] with an optional caller-chosen base snapshot and a branch
    * marker — the shared slot-claim protocol. With no override the base
    * is the newest MAIN manifest FROM THE SAME scan that sets the claim
    * floor (atomicity is load-bearing — see [[scanHeads]]); a branch
    * commit overrides the base with its lock-stable head (the ref only
    * moves under the branch lock the caller holds, so the single-scan
    * argument is not needed there). `branch` stamps the published
    * manifest (None = main line — force-set either way, so content
    * copied from a branch snapshot can never leak its marker into main
    * or vice versa). The claimed slot is (newest parseable version of
    * EITHER line) + 1: branch and main share one version-number space,
    * so every slot names exactly one snapshot, and anything committed
    * after the scan makes the claim collide and retry. */
  private def commitWith(collection: Path, baseOverride: Option[() => Manifest],
      update: Manifest => Manifest, branch: Option[String]): Manifest = {
    var attempts = 0
    while (true) {
      val (mainHead, maxParseable) = scanHeads(collection)
      val cur = baseOverride.map(_()).getOrElse(mainHead)
      val next0 = update(cur)
      if (next0 eq cur) return cur // update declined: publish nothing
      // armed consumer-cursor stamp rides THIS publish (exactly-once:
      // the window's effects and its applied-version record are one
      // atomic manifest commit). Force-set, not max: a consumer
      // serializes its own cycles (same single-consumer-per-cursor
      // contract as the tag), and a re-BOOTSTRAP must be able to LOWER
      // the record to its fresh baseline.
      val stamp = pendingEpochs.get.get(collection.toAbsolutePath.normalize)
      val next = next0.copy(
        version = math.max(cur.version, maxParseable) + 1,
        committedAtMs = System.currentTimeMillis(),
        branch = branch,
        streamEpochs = stamp.fold(next0.streamEpochs) { case (k, v) =>
          next0.streamEpochs + (k -> v) })
      val target = manifestFile(collection, next.version)
      // The tmp name MUST be unique per committer: System.nanoTime alone
      // can tie across threads (coarse clock), and two committers sharing
      // a tmp file silently publish one's content under the other's claim
      // — a lost update with no error anywhere.
      val tmp = metaDir(collection).resolve(
        s".tmp-${System.nanoTime()}-${Thread.currentThread().getId}-" +
          s"${TmpCounter.incrementAndGet()}-${next.version}")
      Files.createDirectories(metaDir(collection))
      Files.write(tmp, Serialization.write(next).getBytes(StandardCharsets.UTF_8))
      // Claim-if-absent publish of the version slot (FileIO.publishNew —
      // conditional-PUT shape): whoever claims the version number wins;
      // the loser re-reads the head and retries at the next number.
      if (FileIO.impl.publishNew(tmp, target)) {
        stamp.foreach(_ =>
          pendingEpochs.get.remove(collection.toAbsolutePath.normalize))
        // Parse the published version into the cache on the commit path:
        // otherwise the next reader's scan pays that parse itself
        // (keyed_ops point reads measured ~30 % slower).
        try readManifest(collection, next.version) catch { case _: Exception => () }
        gcOldManifests(collection, next.version,
          if (branch.isEmpty) next.version else mainHead.version)
        return next
      } else {
        attempts += 1
        // The slot winner may sit between claiming the version file and
        // moving its content in place (e.g. a GC pause) — during that
        // window currentManifest still reads the OLD version and every
        // retry re-collides. Back off instead of burning the attempt
        // budget in milliseconds; 300 × ≤20ms ≈ seconds of tolerance.
        if (attempts > 300)
          throw new IllegalStateException(s"manifest commit contention on $collection")
        Thread.sleep(math.min(20L, attempts.toLong))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ----------------------------------------------------------- branches
  //
  // A BRANCH is a movable ref (Iceberg branch analog): its head version
  // lives in refs.json exactly like a tag — so every retention sweep, GC
  // path, and `VERSION AS OF '<name>'` resolution that protects/resolves
  // tags covers branch heads with zero extra code — plus a fork-base
  // entry in branches.json recording the main version it forked from.
  // Branch commits publish manifests flagged `branch = Some(name)` into
  // the shared version-number space; main readers never see them
  // (currentManifest/TIMESTAMP AS OF skip). fast-forward republishes the
  // branch head as a main commit iff main has not moved since the fork —
  // the write-audit-publish contract.

  /** All branches: name -> fork-base main version (the head lives in
    * refs.json). Same fail-loudly contract as [[readRefs]]. */
  def readBranches(collection: Path): Map[String, Long] =
    readJson[Map[String, Long]](collection, BranchesSlot).getOrElse(Map.empty)

  private def writeBranches(collection: Path, bs: Map[String, Long]): Unit =
    writeEntries(collection, BranchesSlot, bs)

  /** JVM monitor for ref/branch-pointer read-modify-write (FileLock is
    * per-JVM; threads need their own fence — the mergeSchema discipline). */
  private object BranchLock
  // Re-entrancy depth, guarded by the BranchLock monitor (only the
  // monitor-holding thread ever reads or writes it): createBranch and
  // rebaseBranch call setRef while already holding the OS file lock, and
  // a second FileChannel.lock() in the same JVM throws
  // OverlappingFileLockException — the depth counter makes the inner
  // entry a no-op instead. The locked collection path is tracked with
  // the depth so a nested entry for a DIFFERENT collection fails loudly
  // instead of silently skipping that collection's OS file lock.
  private var branchLockDepth = 0
  private var branchLockPath: Path = null

  /** Serializes every refs/branches mutation across processes AND driver
    * threads: head refs, tag pins, and fork bases are read-modify-write
    * on shared files, so two unserialized writers silently drop one
    * another's update (a lost TAG pin hands its snapshot to GC; a lost
    * branch-head move drops staged segments). Ref updates are
    * operator/staging-cadence, so a coarse re-entrant lock costs nothing. */
  private def withBranchLock[T](collection: Path)(body: => T): T =
    BranchLock.synchronized {
      val norm = collection.toAbsolutePath.normalize
      if (branchLockDepth > 0) {
        require(norm == branchLockPath,
          s"hadro: nested branch-lock entry for $norm while holding the " +
            s"lock for $branchLockPath — cross-collection ref mutations " +
            "must not nest (the inner collection's OS file lock would be " +
            "silently skipped)")
        branchLockDepth += 1
        try body finally { branchLockDepth -= 1 }
      } else {
        Files.createDirectories(metaDir(collection))
        FileIO.impl.withFileLock(metaDir(collection).resolve("branch.lock")) {
          branchLockDepth = 1
          branchLockPath = norm
          try body finally { branchLockDepth = 0; branchLockPath = null }
        }
      }
    }

  /** Fork a branch at `version` (-1 = current main head). The name must
    * collide with no tag and no branch; the head ref pins the fork
    * version immediately, so GC can never reclaim the forked snapshot. */
  def createBranch(collection: Path, name: String, version: Long = -1L): Long =
    withBranchLock(collection) {
      val v = if (version < 0) currentManifest(collection).version else version
      require(!readBranches(collection).contains(name),
        s"hadro: branch '$name' already exists")
      require(!readRefs(collection).contains(name),
        s"hadro: '$name' is already a tag — tags and branches share the " +
          "VERSION AS OF namespace")
      setRef(collection, name, v) // validates name + retention
      writeBranches(collection, readBranches(collection) + (name -> v))
      v
    }

  /** Drop a branch: its staged manifests lose their pin and age out with
    * normal retention; staged segment files become reclaimable at the
    * next physical sweep. Returns whether the branch existed. */
  def dropBranch(collection: Path, name: String): Boolean =
    withBranchLock(collection) {
      val bs = readBranches(collection)
      if (!bs.contains(name)) false
      else {
        writeBranches(collection, bs - name)
        dropRef(collection, name)
        true
      }
    }

  /** The branch's current head version (refs.json), failing with the
    * known-branch list when absent. */
  def branchHeadVersion(collection: Path, name: String): Long = {
    require(readBranches(collection).contains(name),
      s"hadro: no branch '$name' (branches: " +
        s"${readBranches(collection).keys.toSeq.sorted.mkString(", ")})")
    readRefs(collection).getOrElse(name, throw new IllegalStateException(
      s"hadro: branch '$name' has no head ref — refs.json out of sync"))
  }

  /** [[commit]] onto a branch: `update` maps the BRANCH head snapshot to
    * the next staged state; the published manifest is flagged for the
    * branch and the head ref moves to it. Main readers see nothing. */
  def commitOnBranch(collection: Path, name: String,
      update: Manifest => Manifest): Manifest =
    withBranchLock(collection) {
      val headV = branchHeadVersion(collection, name)
      val committed = commitWith(collection,
        Some(() => manifestAt(collection, headV)), update, branch = Some(name))
      if (committed.version > headV) // update may have declined (same ref)
        writeRefs(collection, readRefs(collection) + (name -> committed.version))
      committed
    }

  /** Publish (fast-forward): republish the branch head's content as a
    * MAIN commit, iff main still sits at the branch's fork base — a main
    * commit since the fork means the staged snapshot no longer contains
    * main's latest data, and publishing it would silently drop those
    * rows. On success the fork base advances to the published version, so
    * the audit-publish cycle can continue on the same branch. Returns the
    * published main version. */
  def fastForwardBranch(collection: Path, name: String): Long =
    withBranchLock(collection) {
      val base = readBranches(collection).getOrElse(name,
        throw new IllegalArgumentException(s"hadro: no branch '$name' (branches: " +
          s"${readBranches(collection).keys.toSeq.sorted.mkString(", ")})"))
      val headV = branchHeadVersion(collection, name)
      if (headV == base) return currentManifest(collection).version // nothing staged
      val head = manifestAt(collection, headV)
      var conflicted = false
      val committed = commit(collection, cur => {
        if (cur.version != base) { conflicted = true; cur }
        else { conflicted = false; head }
      })
      if (conflicted) throw new IllegalStateException(
        s"hadro: fast-forward of branch '$name' conflicted — main moved " +
          s"from version $base to ${committed.version} since the fork; " +
          "rebase the branch (CALL system.rebase) to re-apply the staged " +
          "appends onto the moved main, or drop it")
      // Move the HEAD ref along with the fork base: the publish re-forked
      // the branch at the published version, so head == base again and the
      // next fast_forward with nothing newly staged is a no-op instead of
      // republishing the old staged snapshot (or spuriously conflicting).
      setRef(collection, name, committed.version)
      writeBranches(collection, readBranches(collection) + (name -> committed.version))
      committed.version
    }

  /** Publish by REBASE (Iceberg cherry-pick analog): re-apply the
    * branch's staged APPEND segments — those in the head but not in the
    * fork-base manifest — onto the CURRENT main head as one atomic
    * commit, even when main moved since the fork (the case fast-forward
    * refuses). Staged segments are immutable files, so the re-apply is
    * metadata-only: they are appended to main's segment list with fresh
    * ordinals AFTER main's existing data, which places staged rows newest
    * under last-write-wins — re-apply semantics, stated and deliberate.
    * Afterwards the branch is RE-FORKED at the published version (head
    * and base both move), so the next audit cycle stages against a state
    * that already contains everything published — a second rebase
    * publishes nothing twice, and fast-forward is consistent again.
    * Fails fast when the fork-base manifest has aged out of retention
    * (the staged-delta diff would be a guess — re-fork instead). */
  def rebaseBranch(collection: Path, name: String): Long =
    withBranchLock(collection) {
      val base = readBranches(collection).getOrElse(name,
        throw new IllegalArgumentException(s"hadro: no branch '$name' (branches: " +
          s"${readBranches(collection).keys.toSeq.sorted.mkString(", ")})"))
      val headV = branchHeadVersion(collection, name)
      val head = manifestAt(collection, headV)
      val baseM =
        try readManifest(collection, base)
        catch {
          case e: Exception => throw new IllegalStateException(
            s"hadro: rebase of branch '$name' needs its fork-base manifest " +
              s"(version $base) to compute the staged delta, but it aged " +
              s"out of retention (${e.getMessage}); drop and re-fork the branch")
        }
      val baseFiles = baseM.segments.map(_.file).toSet
      val delta = head.segments.filterNot(s => baseFiles(s.file))
      val committed = commit(collection, cur => {
        if (delta.isEmpty) cur // nothing staged: publish nothing
        else {
          var ord = cur.nextOrdinal
          val applied = delta.map { s => val o = ord; ord += 1; s.copy(ordinal = o) }
          cur.copy(
            segments = cur.segments ++ applied,
            mutated = cur.mutated || head.mutated,
            // appended segments carry no uniform-sort proof
            sortedBy = None,
            // carry the branch's exactly-once stream-epoch bookkeeping
            // into the published manifest (per-query max): the re-forked
            // branch must still decline a zombie epoch replay
            streamEpochs = cur.streamEpochs ++ head.streamEpochs.map {
              case (q, e) => q -> math.max(e, cur.streamEpochs.getOrElse(q, -1L))
            })
        }
      })
      // re-fork: head ref and base both move to the published version
      setRef(collection, name, committed.version)
      writeBranches(collection, readBranches(collection) + (name -> committed.version))
      committed.version
    }
}
