package graft.spark

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.format.SegmentWriter
import graft.meta.{CollectionMeta, CommitConflictException, SegmentInfo}

/** SQL `UPDATE` / `MERGE INTO` (and complex `DELETE`) for hadro tables via
  * DSv2 row-level operations ([[HadroTable]] implements
  * `SupportsRowLevelOperations`) — together with the existing
  * `SupportsDeleteV2` this completes the SQL row-level verb set the
  * reference's delete/upsert contract implies
  * (`/root/reference/INTERFACE.md:11-17`), reachable from pure SQL.
  *
  * Strategy is chosen per collection kind, mirroring the DELETE split in
  * [[HadroDeleteSupport]]:
  *
  *   - '''Keyed collection → delta (merge-on-read).''' The operation
  *     implements `SupportsDelta`: Spark hands the writer per-row deltas,
  *     and each delta is an APPEND — updates/inserts append new key
  *     versions (last-write-wins shadows the old ones), deletes append
  *     key-only tombstones — all in ONE manifest commit. O(changed rows)
  *     bytes written, no segment rewrite: the Bitcask-native mutation
  *     shape, same as the engine's own `Collection.merge`. Updates are
  *     represented as delete+insert so `SET key = ...` (a key-changing
  *     update) tombstones the old key correctly; the tombstone segments
  *     take LOWER ordinals than the data segments in the same commit, so
  *     resolution orders every key's delete before its re-insert.
  *
  *   - '''Non-keyed collection, default → group-based copy-on-write.'''
  *     The operation's scan prunes to the segments that MIGHT contain
  *     matching rows (manifest stats + blooms — same pruning as the h33
  *     CoW delete), records exactly which files it planned, and Spark
  *     writes back every surviving/updated row of those segments; commit
  *     replaces precisely the planned files in one atomic
  *     generation-checked replace commit. An UPDATE whose predicate
  *     prunes to 3 of 10k segments rewrites exactly 3 files.
  *
  *   - '''Non-keyed collection, merge-on-read opt-in → deletion-vector
  *     delta.''' With `spark.hadro.{delete,update,merge}.mode=dv` (per
  *     command), the operation implements `SupportsDelta` with the
  *     `_hadro_seq` metadata column as the row id: deleted rows become
  *     bitmap bits in per-segment deletion-vector sidecars, updated rows
  *     become delete-bit + appended re-insert, merge inserts append — all
  *     in ONE manifest commit, O(changed rows) bytes written. This is the
  *     Iceberg-v2 position-delete shape, and unlike the `deleteWhere`
  *     metadata path it has NO pushability constraint: an arbitrary
  *     predicate (`s_suppkey % 2 = 0`) stays merge-on-read instead of
  *     silently downgrading to a copy-on-write rewrite.
  *
  * At 100 TB the split matters: keyed mutations never touch existing data
  * (append-only, O(delta)), non-keyed dv mutations write O(matched rows),
  * and non-keyed CoW rewrites are bounded by pruning, not table size.
  */
final class HadroRowLevelOperationBuilder(path: Path, info: RowLevelOperationInfo)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = {
    val meta = CollectionMeta.readSchema(path).getOrElse(
      throw new IllegalStateException(s"hadro: no collection at $path"))
    // the LOGICAL schema: row-level plans must never surface dropped
    // physical slots (readers re-resolve the physical layout themselves)
    val logical = CollectionMeta.logicalSchema(meta.schema)
    meta.keyField match {
      case Some(k) => new HadroDeltaOperation(path, logical, info.command(), k)
      case None =>
        val confKey = info.command() match {
          case RowLevelOperation.Command.DELETE => "spark.hadro.delete.mode"
          case RowLevelOperation.Command.UPDATE => "spark.hadro.update.mode"
          case _ => "spark.hadro.merge.mode"
        }
        val mode = org.apache.spark.sql.internal.SQLConf.get
          .getConfString(confKey, "cow")
        if (mode.equalsIgnoreCase("dv"))
          new HadroDvDeltaOperation(path, logical, info.command())
        else new HadroCowOperation(path, logical, info.command())
    }
  }
}

// --------------------------------------------------------------- keyed/MoR

/** Delta (merge-on-read) row-level operation for keyed collections: every
  * change is an append, the key column is the row id. */
final class HadroDeltaOperation(path: Path, schema: StructType,
    cmd: RowLevelOperation.Command, key: String) extends SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def rowId(): Array[NamedReference] = Array(Expressions.column(key))
  // Key-changing updates (SET key = ...) must tombstone the OLD key;
  // delete+insert expresses that, a plain new-version append cannot.
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  /** What the operation scans. Pure-append keyed collections read the
    * collection directly (every record IS its key's latest version, and
    * the scan keeps full pushdown). A MUTATED collection's raw scan still
    * contains shadowed versions — Spark's rewrite plans evaluate the
    * condition per scanned row, so feeding them a shadowed version could
    * emit a delta derived from stale values. For those, the last-write-
    * wins resolution (the same window `Collection.resolvedAsOf` uses) is
    * materialized ONCE per statement into a temp pure-append collection —
    * a distributed job, nothing driver-side — and scanned from there.
    * That is the honest merge-on-read price; `compact()` resets a
    * collection to pure-append and restores the direct path. */
  /** Root of the statement-scoped resolved copy, if one was materialized;
    * deleted by the write's commit/abort so repeated statements don't leak
    * full-collection copies on local disk. */
  @volatile private[spark] var resolvedTmpRoot: Option[Path] = None

  private lazy val scanPath: Path = {
    val m = CollectionMeta.currentManifest(path)
    if (!m.mutated || m.segments.isEmpty) path
    else {
      val spark = org.apache.spark.sql.SparkSession.active
      val root = Files.createTempDirectory("hadro-rlo-resolved")
      resolvedTmpRoot = Some(root)
      val tmp = root.resolve("view")
      val full = spark.read.format("hadro")
        .option("hadro.changefeed", "full").load(path.toString)
      val w = Window.partitionBy(col(key)).orderBy(col(HadroTable.SeqCol).desc)
      full.withColumn("__hadro_rn", row_number().over(w))
        .filter(col("__hadro_rn") === 1 && !col(HadroTable.DeletedCol))
        .drop("__hadro_rn", HadroTable.SeqCol, HadroTable.DeletedCol)
        .write.format("hadro").mode("append")
        .option("hadro.key", key).save(tmp.toString)
      tmp
    }
  }

  /** Best-effort removal of the statement's resolved temp copy. */
  private[spark] def cleanupResolved(): Unit = resolvedTmpRoot.foreach { root =>
    resolvedTmpRoot = None
    try {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    } catch { case _: Exception => () } // leak-on-error beats failing the op
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HadroScanBuilder(scanPath, schema)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new HadroDeltaWrite(path, info, key, HadroDeltaOperation.this)
    }
}

/** The delta write: appended data + tombstone segments in one commit. */
final class HadroDeltaWrite(path: Path, info: LogicalWriteInfo, key: String,
    op: HadroDeltaOperation) extends DeltaWrite {

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    // ensureSchema + commit/abort come from the plain append write path:
    // a delta commit IS an upsert-shaped append (mutating = true).
    // A pure-DELETE statement emits ONLY tombstones, and Spark narrows
    // its delta write schema to the columns the plan touched — so the
    // insert-completeness check (every non-nullable stored field present)
    // must not apply there, exactly the key-only-projection contract
    // tombstone appends already have. UPDATE/MERGE insert full rows and
    // keep the strict check.
    private val underlying = new HadroBatchWrite(
      path, info.schema(), graft.format.Consistency.Relaxed,
      tombstone = op.command() == RowLevelOperation.Command.DELETE,
      mutating = true, truncate = false,
      keyField = Some(key))

    private val storedMeta = CollectionMeta.readSchema(path).get
    private val storedSchema = storedMeta.schema
    private val rowIdSchema: StructType = info.rowIdSchema().orElseGet(() =>
      StructType(Seq(storedSchema(storedSchema.fieldIndex(key)))))
    private val indexOrdinals = HadroWriteInit.indexOrdinals(path, storedSchema)
    private val keyOrdinal = Some(storedSchema.fieldIndex(key))

    private val constraints = HadroWriteInit.resolvedConstraints(path, storedSchema)

    override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DeltaWriterFactory =
      new HadroDeltaWriterFactory(path.toString, storedSchema, info.schema(),
        rowIdSchema, keyOrdinal, indexOrdinals, constraints)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      // Ordinals are assigned across ALL tasks in message order at commit,
      // so per-task ordering (tombs before data within one writer) is not
      // enough: a key tombstoned by task B and re-inserted by task A would
      // otherwise resolve to whichever task's message came later. Reorder
      // globally — every tombstone segment before every data segment — so
      // a delete of an old key can never shadow another row's insert of
      // the same key within this statement.
      val infos = messages.collect { case m: HadroCommitMessage => m.infos }.flatten
      val (tombs, data) = infos.partition(_.tombstones > 0)
      try underlying.commit(Array(HadroCommitMessage(tombs.toSeq ++ data.toSeq)))
      finally op.cleanupResolved()
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      try underlying.abort(messages)
      finally op.cleanupResolved()
  }
}

final class HadroDeltaWriterFactory(path: String, storedSchema: StructType,
    rowSchema: StructType, rowIdSchema: StructType, keyOrdinal: Option[Int],
    indexOrdinals: Map[String, Seq[Int]],
    constraints: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new HadroDeltaWriter(Paths.get(path), storedSchema, rowSchema, rowIdSchema,
      partitionId, taskId, keyOrdinal, indexOrdinals, constraints)
}

/** Routes delta actions onto two plain segment writers: inserts (and the
  * insert half of updates) append full rows; deletes (and the delete half)
  * append key-only tombstones. The STATEMENT-LEVEL commit
  * ([[HadroDeltaWrite]]) reorders all tombstone segments before all data
  * segments across tasks — a key that is deleted (old key of a
  * key-changing update in one task) and re-inserted (new key produced by
  * a different row in another task) resolves to the insert. */
final class HadroDeltaWriter(dir: Path, storedSchema: StructType,
    rowSchema: StructType, rowIdSchema: StructType,
    partitionId: Int, taskId: Long, keyOrdinal: Option[Int],
    indexOrdinals: Map[String, Seq[Int]],
    constraints: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil) extends DeltaWriter[InternalRow] {

  // CHECK constraints gate UPDATE/MERGE-produced rows exactly like plain
  // inserts (tombstones are exempt — they never surface as data rows)
  private val dataW = new HadroDataWriter(dir, storedSchema, rowSchema,
    graft.format.Consistency.Relaxed, tombstone = false, partitionId, taskId,
    keyOrdinal, SegmentWriter.DefaultSplitBytes, indexOrdinals,
    constraints = constraints)
  private val tombW = new HadroDataWriter(dir, storedSchema, rowIdSchema,
    graft.format.Consistency.Relaxed, tombstone = true, partitionId, taskId,
    keyOrdinal, SegmentWriter.DefaultSplitBytes, indexOrdinals)

  override def insert(row: InternalRow): Unit = dataW.write(row)
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
    dataW.write(row) // unreachable with representUpdateAsDeleteAndInsert=true
  override def delete(meta: InternalRow, id: InternalRow): Unit = tombW.write(id)

  override def commit(): WriterCommitMessage = {
    val tombs = tombW.commit().asInstanceOf[HadroCommitMessage].infos
    val data = dataW.commit().asInstanceOf[HadroCommitMessage].infos
    HadroCommitMessage(tombs ++ data)
  }
  override def abort(): Unit = { tombW.abort(); dataW.abort() }
  override def close(): Unit = { tombW.close(); dataW.close() }
}

// ---------------------------------------------------------- non-keyed/CoW

/** Group-based (copy-on-write) row-level operation for non-keyed
  * collections. The scan and write share this instance: the scan records
  * the exact files it planned (post stats/bloom pruning) plus the
  * generation it planned against, and the write replaces those files —
  * and only those — in one atomic, generation-checked commit. */
final class HadroCowOperation(path: Path, schema: StructType,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** (planned files, pinned generation, per-file plan-time deletion
    * vector), set by the scan at planning. The dv snapshot makes a
    * concurrent dv DELETE a detected conflict instead of a silent
    * resurrection (commit validates it). */
  @volatile private[spark] var planned: Option[ReplaceSpec] = None

  override def command(): RowLevelOperation.Command = cmd

  /** Requesting a metadata attribute makes Spark build ReplaceData's row
    * and metadata projections and route rows through the projecting write
    * task — WITHOUT one, the writer receives the plan's raw output
    * including the internal `__row_operation` column (Spark only strips
    * it when projections exist; verified against ReplaceDataExec
    * .writingTask in Spark 4.1). `_hadro_seq` is free: the reader
    * materializes it from the record position it already tracks. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(HadroTable.SeqCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HadroCowScanBuilder(this, path, schema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new HadroCowBatchWrite(path, info.schema(), HadroCowOperation.this)
      }
    }
}

/** Scan builder for the CoW operation. Pushed filters are used for GROUP
  * (segment) pruning ONLY — the write must get back every row of every
  * affected segment, so per-record shortcuts (key-offset point ranges,
  * limit prefixes) that the normal scan builder plans are deliberately
  * absent here. All filters are returned as residual. */
final class HadroCowScanBuilder(op: HadroCowOperation, path: Path,
    schema: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = schema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(SegmentSkipper.supports)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new HadroCowScan(op, path, schema, required, pushed)
}

final class HadroCowScan(op: HadroCowOperation, path: Path,
    schema: StructType, required: StructType, filters: Array[Filter])
    extends Scan with Batch {

  private lazy val storedSchema: StructType =
    CollectionMeta.readSchema(path).map(_.schema).getOrElse(schema)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"hadro CoW row-level scan $path, GroupPruneFilters: [${filters.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val manifest = CollectionMeta.currentManifest(path)
    val affected = manifest.segments.filter(seg =>
      SegmentSkipper.mightMatch(seg, filters, storedSchema) &&
        BloomSidecar.mightMatch(path, seg, filters, storedSchema) &&
        BloomSidecar.compositeMightMatch(path, seg, manifest.indexes, filters, storedSchema))
    op.planned = Some(ReplaceSpec(affected.map(_.file), manifest.generation,
      affected.map(s => s.file -> s.deleteVector).toMap))
    affected.flatMap(seg => HadroInputPartition.ranges(path, seg)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new HadroReaderFactory(storedSchema, required,
      typeWidened = CollectionMeta.currentManifest(path)
        .segments.exists(_.writeTypes.nonEmpty))
}

/** The CoW write: plain segment writers; commit replaces exactly the files
  * the operation's scan planned. Rows written with zero planned files can
  * not exist (the scan planned no partitions), so that case is a no-op
  * that only tidies the empty segment files the writers leave behind. */
final class HadroCowBatchWrite(path: Path, writeSchema: StructType,
    op: HadroCowOperation) extends BatchWrite {

  private def delegate(replaceSpec: Option[ReplaceSpec]) =
    new HadroBatchWrite(path, writeSchema, graft.format.Consistency.Relaxed,
      tombstone = false, mutating = false, truncate = false, keyField = None,
      replaceSpec = replaceSpec)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    delegate(None).createBatchWriterFactory(info)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spec = op.planned.getOrElse(throw new IllegalStateException(
      "hadro: row-level write committed before its scan planned — " +
        "cannot determine which files to replace"))
    if (spec.files.isEmpty) { abort(messages); return } // statically-proven no-op
    delegate(Some(spec)).commit(messages)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    delegate(None).abort(messages)
}

// ------------------------------------------------- non-keyed/dv (MoR)

/** Deletion-vector delta operation for NON-KEYED collections (opt-in,
  * `spark.hadro.{delete,update,merge}.mode=dv`): the row id is the
  * `_hadro_seq` metadata column (segment ordinal << 40 | row index), so a
  * deleted row is exactly one bitmap bit in its segment's deletion-vector
  * sidecar. Deltas: DELETE → bit; UPDATE → bit + appended re-insert
  * (represented as delete+insert); MERGE inserts → plain appends. One
  * manifest commit flips every touched segment to its new UNION sidecar
  * and appends the insert segments — O(matched rows) bytes written, no
  * segment rewrite, time travel exact (sidecars are immutable; retained
  * manifests keep their historical vectors).
  *
  * Conflicts: the operation pins the manifest at build time; commit
  * verifies generation, per-segment file identity, and that each touched
  * segment's CURRENT vector equals the pinned one (a concurrent dv commit
  * would otherwise be silently overwritten — same check as the metadata
  * `deleteVectors` path). Any drift aborts the statement with the
  * retryable-conflict error; Spark surfaces it, the user (or the
  * statement-level loop in `deleteWhere`, for the metadata path) retries. */
final class HadroDvDeltaOperation(path: Path, schema: StructType,
    cmd: RowLevelOperation.Command) extends SupportsDelta {

  /** Manifest snapshot the deltas are built against — read at operation
    * build, BEFORE the scan plans, so every scanned (ordinal,row) resolves
    * within it; commit re-validates against the then-current manifest. */
  private[spark] val pinned: graft.meta.Manifest = CollectionMeta.currentManifest(path)

  override def command(): RowLevelOperation.Command = cmd
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(HadroTable.SeqCol))
  // UPDATE must vector-out the OLD row position and append the new row;
  // delete+insert expresses that, an in-place update cannot.
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HadroScanBuilder(path, schema)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new HadroDvDeltaWrite(path, info, HadroDvDeltaOperation.this)
    }
}

/** The dv delta write: executor tasks accumulate per-segment bitmaps (and
  * append insert segments); the driver unions bitmaps across tasks and
  * with the pinned pre-existing vectors, writes one immutable union
  * sidecar per touched segment, and publishes everything in one
  * conflict-checked manifest commit. */
final class HadroDvDeltaWrite(path: Path, info: LogicalWriteInfo,
    op: HadroDvDeltaOperation) extends DeltaWrite {

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val storedSchema = CollectionMeta.readSchema(path).get.schema
    private val indexOrdinals = HadroWriteInit.indexOrdinals(path, storedSchema)

    private val constraints = HadroWriteInit.resolvedConstraints(path, storedSchema)

    override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DeltaWriterFactory =
      new HadroDvDeltaWriterFactory(path.toString, storedSchema, info.schema(),
        indexOrdinals, constraints)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val msgs = messages.collect { case m: HadroDvCommitMessage => m }
      val data = msgs.flatMap(_.infos).filter(_.rows > 0)
      // rotation leftovers that saw no rows: unlink, never referenced
      msgs.flatMap(_.infos).filter(_.rows == 0).foreach(i =>
        Files.deleteIfExists(path.resolve(i.file)))
      // union each segment's bitmap across tasks
      val union = scala.collection.mutable.Map.empty[Long, java.util.BitSet]
      msgs.foreach(_.dv.foreach { case (ord, bytes) =>
        val b = java.util.BitSet.valueOf(bytes)
        union.get(ord) match {
          case Some(u) => u.or(b)
          case None => union(ord) = b
        }
      })
      if (data.isEmpty && union.isEmpty) return // statement matched nothing

      val m0 = op.pinned
      val segFiles: Map[Long, String] = m0.segments.map(s => s.ordinal -> s.file).toMap
      val existing: Map[Long, Option[String]] =
        m0.segments.map(s => s.ordinal -> s.deleteVector).toMap
      var written: List[String] = Nil
      def conflict(msg: String): Nothing = {
        // drop this attempt's orphaned sidecars + data segments
        written.foreach(n =>
          try Files.deleteIfExists(path.resolve(n)) catch { case _: Exception => () })
        abort(messages)
        throw new CommitConflictException(msg)
      }
      // fold the pinned pre-existing vector into each union and persist
      val buildId = java.lang.Long.toHexString(System.nanoTime())
      val sidecars: Map[Long, (String, Long)] = union.toMap.map { case (ord, b) =>
        val file = segFiles.getOrElse(ord, conflict(
          "hadro: row-level dv commit saw a row from a segment not in the " +
            "pinned snapshot — a concurrent commit moved the table; retry"))
        existing.getOrElse(ord, None).foreach(n =>
          b.or(graft.format.DeleteVector.read(path.resolve(n))))
        val name = s"$file.dv-$buildId.dv"
        graft.format.DeleteVector.write(path.resolve(name), b)
        written ::= name
        ord -> (name, b.cardinality().toLong)
      }
      CollectionMeta.commit(path, cur => {
        if (cur.generation != m0.generation) conflict(
          "hadro: row-level dv commit conflicted with a concurrent " +
            "truncate/compaction — retry")
        sidecars.keys.foreach { ord =>
          val seg = cur.segments.find(s => s.ordinal == ord && s.file == segFiles(ord))
            .getOrElse(conflict(
              "hadro: row-level dv commit conflicted with a concurrent " +
                "segment rewrite — retry"))
          // the union was built on the PINNED vector: drift means another
          // dv commit landed in between; overwriting would resurrect its rows
          if (seg.deleteVector != existing.getOrElse(ord, None)) conflict(
            "hadro: row-level dv commit conflicted with a concurrent " +
              "deletion-vector commit — retry")
        }
        var ord = cur.nextOrdinal
        val withOrdinals = data.map { s => val o = ord; ord += 1; s.copy(ordinal = o) }
        cur.copy(
          segments = cur.segments.map { s =>
            sidecars.get(s.ordinal) match {
              case Some((name, total)) =>
                s.copy(deleteVector = Some(name), dvDeletes = total)
              case None => s
            }
          } ++ withOrdinals,
          // appended re-inserts don't re-declare a recorded physical sort
          sortedBy = if (data.isEmpty) cur.sortedBy else None)
      })
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      messages.collect { case m: HadroDvCommitMessage => m.infos }.flatten.foreach { i =>
        Files.deleteIfExists(path.resolve(i.file))
        i.bloom.foreach(b => Files.deleteIfExists(path.resolve(b)))
        i.offsetIndex.foreach(f => Files.deleteIfExists(path.resolve(f)))
        i.indexBlooms.values.foreach(b => Files.deleteIfExists(path.resolve(b)))
      }
  }
}

/** Per-task delta state: one plain segment writer for inserts, one bitmap
  * per touched segment ordinal for deletes. Serialized as raw BitSet bytes
  * — bounded by matched rows, unioned driver-side at commit. */
final case class HadroDvCommitMessage(infos: Seq[SegmentInfo],
    dv: Map[Long, Array[Byte]]) extends WriterCommitMessage

final class HadroDvDeltaWriterFactory(path: String, storedSchema: StructType,
    rowSchema: StructType, indexOrdinals: Map[String, Seq[Int]],
    constraints: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new HadroDvDeltaWriter(Paths.get(path), storedSchema, rowSchema,
      partitionId, taskId, indexOrdinals, constraints)
}

final class HadroDvDeltaWriter(dir: Path, storedSchema: StructType,
    rowSchema: StructType, partitionId: Int, taskId: Long,
    indexOrdinals: Map[String, Seq[Int]],
    constraints: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil) extends DeltaWriter[InternalRow] {

  private val dataW = new HadroDataWriter(dir, storedSchema, rowSchema,
    graft.format.Consistency.Relaxed, tombstone = false, partitionId, taskId,
    keyOrdinal = None, SegmentWriter.DefaultSplitBytes, indexOrdinals,
    constraints = constraints)
  private val bits = scala.collection.mutable.Map.empty[Long, java.util.BitSet]
  private val rowMask = (1L << HadroTable.SeqOrdinalShift) - 1

  override def insert(row: InternalRow): Unit = dataW.write(row)
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
    dataW.write(row) // unreachable with representUpdateAsDeleteAndInsert=true
  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val seq = id.getLong(0)
    val r = seq & rowMask
    require(r <= Int.MaxValue, s"hadro: row index $r exceeds vector range")
    bits.getOrElseUpdate(seq >>> HadroTable.SeqOrdinalShift, new java.util.BitSet())
      .set(r.toInt)
  }

  override def commit(): WriterCommitMessage = {
    val data = dataW.commit().asInstanceOf[HadroCommitMessage].infos
    HadroDvCommitMessage(data, bits.map { case (o, b) => o -> b.toByteArray }.toMap)
  }
  override def abort(): Unit = dataW.abort()
  override def close(): Unit = dataW.close()
}
