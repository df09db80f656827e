package graft.format

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, FileInputStream, FileOutputStream}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.meta.{ColumnStats, SegmentInfo}

/** Consistency modes, mirroring the reference
  * (`/root/reference/hadro/config.py:5-24`): AGGRESSIVE fsyncs every record,
  * RELAXED (default) leaves buffering to the OS and fsyncs on close —
  * "Relaxed is faster (10x)" per `config.py:13`. */
object Consistency extends Enumeration {
  val Relaxed, Aggressive = Value
  def parse(s: String): Value =
    if (s == null || s.isEmpty || s.equalsIgnoreCase("relaxed")) Relaxed
    else if (s.equalsIgnoreCase("aggressive")) Aggressive
    else throw new IllegalArgumentException(s"hadro.consistency must be relaxed|aggressive, got $s")
}

/** Appends framed records to one segment file and tracks per-column min/max/
  * null stats for manifest-side segment skipping (the Spark-idiomatic
  * replacement for the reference's declared B+Tree secondary indexes,
  * `INTERFACE.md:32-38`). One writer per Spark task — segments are
  * single-writer immutable, so parallel writes never contend. */
final class SegmentWriter(path: Path, schema: StructType, consistency: Consistency.Value,
    keyOrdinal: Option[Int] = None,
    splitBytes: Long = SegmentWriter.DefaultSplitBytes,
    indexFields: Map[String, Seq[Int]] = Map.empty,
    offsetIndex: Boolean = true,
    compress: Boolean = false,
    dictTrain: Boolean = false,
    // Composite write-order spec ((name, ordinal) pairs, >= 2 entries):
    // capture the segment's exact lexicographic (first, last) row bounds,
    // VERIFYING the claimed order row-by-row — any out-of-order or null
    // sort value poisons the bounds, so a lying producer can never plant
    // wrong pruning metadata.
    sortSpec: Seq[(String, Int)] = Nil) {
  private val fos = new FileOutputStream(path.toFile)
  private val out = new BufferedOutputStream(fos, SegmentReader.BlockSize)
  private val encoder = new RecordCodec.Encoder(schema)
  private val header = new Array[Byte](RecordCodec.HeaderSize)
  private var rows = 0L
  private var tombstones = 0L
  private val stats = StatsCollector(schema)
  private val bloom = keyOrdinal.map(_ => KeyBloom())
  // Named composite-key indexes (INTERFACE.md:32-38): one bloom per index
  // over the canonical hash of the field tuple, written as sidecars.
  private val indexBloomMap: Map[String, (Seq[Int], KeyBloom)] =
    indexFields.map { case (n, ords) => n -> (ords, KeyBloom()) }
  // Key→offset entries (hash, recordOffset, rowIndex) for keyed segments:
  // the persisted KeyDir that lets point lookups read only matching records.
  private val keyOffsets =
    if (offsetIndex && keyOrdinal.isDefined)
      Some(scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)])
    else None
  // Record-aligned split points, one roughly every `splitBytes`: readers
  // turn the inter-point ranges into independent InputPartitions, so one
  // oversized segment (a single big ingest task) scans as many parallel
  // tasks instead of one. Offsets always land on a record header.
  private var bytesWritten = 0L
  private var nextSplit = splitBytes
  private val splits = scala.collection.mutable.Buffer.empty[graft.meta.SplitPoint]
  // Per-block stats (Parquet row-group analog): a second collector reset at
  // every split point; closed blocks accumulate here. Only persisted when
  // the segment ends up multi-block — see close().
  private var blockStats = StatsCollector(schema)
  private val closedBlocks = scala.collection.mutable.Buffer.empty[Map[String, graft.meta.ColumnStats]]

  /** Bytes appended so far (for writer-side segment rotation). */
  def bytes: Long = bytesWritten
  /** Records appended so far. */
  def rowCount: Long = rows

  // scratch for per-record zstd frames (compression is opt-in per
  // collection); grown as needed, reused across rows
  private var zbuf: Array[Byte] = if (compress) new Array[Byte](64 * 1024) else null

  // Per-SEGMENT trained dictionary (compress = zstd-dict): the first
  // ~DictTrainBytes of record payloads train a zstd dictionary (written
  // plain-zstd meanwhile — no buffering, so byte offsets, fsync cadence
  // and index structures stay untouched); once trained, every later
  // record compresses against it (DictFlag). Per-segment training is the
  // Parquet-dictionary-page shape: no cross-task coordination at 100 TB,
  // and compaction retrains on the merged data automatically.
  private val dictTrainer =
    if (compress && dictTrain)
      new com.github.luben.zstd.ZstdDictTrainer(
        SegmentWriter.DictSampleCapacity, SegmentWriter.DictBytes)
    else null
  private var dictSampled = 0L
  private var dictDone = false // trained OR given up
  private var dictBytes: Array[Byte] = null
  private var dictCtx: com.github.luben.zstd.ZstdCompressCtx = null

  // Composite-order bound capture (see sortSpec): tombstone records carry
  // key-only projections and are excluded (they are not data rows).
  private val sortOrds: Array[Int] =
    if (sortSpec.length >= 2 &&
        sortSpec.forall { case (_, o) =>
          o >= 0 && o < schema.length && StatsCollector.isOrderable(schema(o).dataType)
        }) sortSpec.map(_._2).toArray
    else Array.emptyIntArray
  private var sortPoisoned = sortOrds.isEmpty
  private var sortFirst: Array[Any] = null
  private var sortPrev: Array[Any] = null
  private def captureSort(row: InternalRow): Unit = {
    val k = sortOrds.length
    val cur = new Array[Any](k)
    var i = 0
    while (i < k && !sortPoisoned) {
      val o = sortOrds(i)
      if (row.isNullAt(o)) { sortPoisoned = true; return }
      val v = StatsCollector.retain(row.get(o, schema(o).dataType))
      v match { // verbatim manifest renders only — no truncated strings
        case s: UTF8String if s.numChars() > StatsCollector.MaxStringBound =>
          sortPoisoned = true; return
        case _ =>
      }
      cur(i) = v
      i += 1
    }
    if (sortPoisoned) return
    if (sortPrev != null) { // verify claimed order: prev <= cur lexicographically
      var j = 0
      var decided = false
      while (j < k && !decided) {
        if (StatsCollector.lt(sortPrev(j), cur(j))) decided = true
        else if (StatsCollector.lt(cur(j), sortPrev(j))) {
          sortPoisoned = true; decided = true
        } else j += 1
      }
    }
    if (!sortPoisoned) {
      if (sortFirst == null) sortFirst = cur
      sortPrev = cur
    }
  }

  def append(row: InternalRow, deleted: Boolean = false): Unit = {
    if (!sortPoisoned && !deleted) captureSort(row)
    if (bytesWritten >= nextSplit && rows > 0) {
      splits += graft.meta.SplitPoint(bytesWritten, rows)
      nextSplit = bytesWritten + splitBytes
      closedBlocks += blockStats.result(withSums = false)
      blockStats = StatsCollector(schema)
    }
    val size = encoder.encode(row) // payload in encoder.buffer, zero-copy
    // Per-record compression keeps every byte-offset structure (split
    // points, key→offset index) exact: only the payload bytes shrink, and
    // the flag bit makes each record self-describing. Stored only when it
    // actually wins; tiny records skip the attempt entirely.
    var payload = encoder.buffer
    var storedSize = size
    var flagByte = if (deleted) RecordCodec.DeletedFlag else 0
    if (dictTrainer != null && !dictDone && size > 0) {
      dictTrainer.addSample(java.util.Arrays.copyOfRange(encoder.buffer, 0, size))
      dictSampled += size
      if (dictSampled >= SegmentWriter.DictTrainBytes) {
        dictDone = true
        try {
          dictBytes = dictTrainer.trainSamples()
          dictCtx = new com.github.luben.zstd.ZstdCompressCtx()
          dictCtx.setLevel(SegmentWriter.ZstdLevel)
          dictCtx.loadDict(dictBytes)
        } catch {
          // degenerate sample (zstd refuses) -> this segment stays plain
          case _: Throwable => dictBytes = null; dictCtx = null
        }
      }
    }
    val minCompress =
      if (dictCtx != null) SegmentWriter.MinDictCompressBytes
      else SegmentWriter.MinCompressBytes
    if (compress && size >= minCompress) {
      val bound = com.github.luben.zstd.Zstd.compressBound(size.toLong).toInt
      if (zbuf.length < bound) zbuf = new Array[Byte](Integer.highestOneBit(bound) * 2)
      if (dictCtx != null) {
        val n = try dictCtx.compressByteArray(zbuf, 0, zbuf.length, encoder.buffer, 0, size)
          catch { case _: Throwable => -1 }
        if (n > 0 && n < size) {
          payload = zbuf
          storedSize = n
          flagByte |= RecordCodec.CompressedFlag | RecordCodec.DictFlag
        }
      } else {
        val n = com.github.luben.zstd.Zstd.compressByteArray(
          zbuf, 0, zbuf.length, encoder.buffer, 0, size, SegmentWriter.ZstdLevel)
        if (!com.github.luben.zstd.Zstd.isError(n) && n < size) {
          payload = zbuf
          storedSize = n.toInt
          flagByte |= RecordCodec.CompressedFlag
        }
      }
    }
    val recordOffset = bytesWritten
    bytesWritten += RecordCodec.HeaderSize + storedSize
    header(0) = flagByte.toByte
    header(1) = (storedSize >>> 24).toByte
    header(2) = (storedSize >>> 16).toByte
    header(3) = (storedSize >>> 8).toByte
    header(4) = storedSize.toByte
    out.write(header)
    out.write(payload, 0, storedSize)
    rows += 1
    if (deleted) tombstones += 1
    stats.update(row)
    blockStats.update(row)
    // Key bloom includes TOMBSTONE keys too: last-write-wins resolution
    // must see a key's tombstones, so a point lookup may not skip segments
    // holding only the delete record.
    keyOrdinal.foreach { ko =>
      if (!row.isNullAt(ko)) {
        val v = row.get(ko, schema(ko).dataType)
        bloom.get.add(v)
        keyOffsets.foreach(_ += ((KeyBloom.canonical(v), recordOffset, rows - 1)))
      }
    }
    indexBloomMap.foreach { case (_, (ords, b)) =>
      b.addHash(KeyBloom.canonicalComposite(ords.map(o =>
        if (row.isNullAt(o)) null else row.get(o, schema(o).dataType))))
    }
    if (consistency == Consistency.Aggressive) {
      out.flush()
      fos.getFD.sync() // reference engine.py:186-189
    }
  }

  /** Flush + fsync + close (reference engine.py:191-197); returns the
    * manifest entry for this segment (ordinal assigned at commit time). */
  def close(): SegmentInfo = {
    out.flush()
    fos.getFD.sync()
    out.close()
    val bloomFile = bloom.map { b =>
      val f = path.resolveSibling(path.getFileName.toString + ".bloom")
      b.writeTo(f)
      f.getFileName.toString
    }
    val indexFiles = indexBloomMap.map { case (name, (_, b)) =>
      val fn = SegmentWriter.indexSidecarName(path.getFileName.toString, name)
      b.writeTo(path.resolveSibling(fn))
      name -> fn
    }
    val koffFile = keyOffsets.map { entries =>
      val fn = KeyOffsetIndex.sidecarName(path.getFileName.toString)
      KeyOffsetIndex.fromEntries(entries.toSeq).writeTo(path.resolveSibling(fn))
      fn
    }
    val dictFile =
      if (dictBytes == null) None
      else {
        val fn = path.getFileName.toString + ".zdict"
        Files.write(path.resolveSibling(fn), dictBytes)
        Some(fn)
      }
    if (dictCtx != null) dictCtx.close()
    SegmentInfo(
      file = path.getFileName.toString,
      ordinal = -1L,
      rows = rows,
      tombstones = tombstones,
      bytes = Files.size(path),
      stats = stats.result(),
      bloom = bloomFile,
      bloomCol = keyOrdinal.map(schema(_).name),
      splits = splits.toSeq,
      indexBlooms = indexFiles,
      offsetIndex = koffFile,
      nFields = Some(schema.length),
      blockStats =
        if (splits.isEmpty) Nil // single block: stats == segment stats
        else (closedBlocks :+ blockStats.result(withSums = false)).toSeq,
      dict = dictFile,
      sortCols =
        if (!sortPoisoned && sortFirst != null) Some(sortSpec.map(_._1).mkString(","))
        else None,
      sortLo =
        if (!sortPoisoned && sortFirst != null)
          sortFirst.toSeq.map(StatsCollector.render)
        else Nil,
      sortHi =
        if (!sortPoisoned && sortFirst != null)
          sortPrev.toSeq.map(StatsCollector.render)
        else Nil)
  }

  def abort(): Unit = {
    out.close()
    if (dictCtx != null) dictCtx.close()
    Files.deleteIfExists(path)
    Files.deleteIfExists(path.resolveSibling(path.getFileName.toString + ".zdict"))
    Files.deleteIfExists(path.resolveSibling(path.getFileName.toString + ".bloom"))
    Files.deleteIfExists(path.resolveSibling(
      KeyOffsetIndex.sidecarName(path.getFileName.toString)))
    indexBloomMap.keys.foreach(n => Files.deleteIfExists(
      path.resolveSibling(SegmentWriter.indexSidecarName(path.getFileName.toString, n))))
  }
}

object SegmentWriter {
  /** Default split-point cadence: 64 MB keeps sub-segment tasks in the same
    * ballpark as `spark.sql.files.maxPartitionBytes` (128 MB default). */
  val DefaultSplitBytes: Long = 64L * 1024 * 1024

  /** Records smaller than this skip the compression attempt: zstd framing
    * overhead (~13 bytes) plus CPU rarely wins on tiny payloads. */
  val MinCompressBytes: Int = 256
  /** With a trained dictionary even small payloads win (the dictionary
    * carries the shared context a lone small frame can't). */
  val MinDictCompressBytes: Int = 64
  /** zstd level 3: the bandwidth/ratio sweet spot for scan-heavy storage. */
  val ZstdLevel: Int = 3
  /** Trained dictionary size; 16 KB covers record-level redundancy without
    * bloating the per-segment sidecar. */
  val DictBytes: Int = 16 * 1024
  /** Payload bytes sampled before training fires; records written before
    * that stay plain-zstd (flag-bit mixing keeps them readable). */
  val DictTrainBytes: Long = 64L * 1024
  /** Trainer sample-buffer capacity (addSample past it is a no-op). */
  val DictSampleCapacity: Int = 4 * 1024 * 1024

  /** Deterministic sidecar name for a named index over one segment —
    * derivable from (segment, index[, build]) alone, so a distributed index
    * build needs no task→driver result plumbing. `buildId` (used by
    * `Collection.indexes.add` rebuilds) makes each build's file name UNIQUE:
    * driver-side sidecar caches are keyed by path, so re-adding an index
    * with different fields must never reuse a name a stale cache entry could
    * answer for (false negatives = silently dropped rows). Write-path
    * sidecars built with a fresh segment file need no build id — the
    * segment's own UUID name already guarantees uniqueness. */
  def indexSidecarName(segmentFile: String, indexName: String,
      buildId: String = ""): String =
    if (buildId.isEmpty) s"$segmentFile.idx-$indexName.bloom"
    else s"$segmentFile.idx-$indexName-$buildId.bloom"
}

/** Streaming reader over one segment file: 8 MB blocks (reference
  * engine.py:140) parsed in place — no per-record payload allocation.
  * Records straddling a block boundary are reassembled by compacting the
  * tail to the buffer front before the next fill (the semantics of the
  * reference's explicit reassembly loop, engine.py:151-163; oversized
  * records grow the buffer).
  *
  * Zero-copy protocol: after `advance()` returns true, the record is at
  * (`buffer`, `payloadOffset`, `payloadLength`) with `flags` — valid until
  * the next `advance()`. The tuple `Iterator` view copies, for callers
  * that retain payloads (tests). */
final class SegmentReader(path: Path, startOffset: Long = 0L, endOffset: Long = -1L)
    extends Iterator[(Int, Array[Byte])] with AutoCloseable {
  private val in = new FileInputStream(path.toFile)
  // a bounded range is never buffered past its own end up front: a
  // single-record point range [offset, offset + 1) reads that one record,
  // not a block (ensure() grows the buffer to the record's size)
  private var buf = new Array[Byte](
    if (endOffset < 0) SegmentReader.BlockSize
    else math.min(SegmentReader.BlockSize.toLong, math.max(endOffset - startOffset, 0L)).toInt)
  private var limit = 0 // valid bytes in buf
  private var pos = 0 // parse cursor
  private var eof = false
  private var pending = false // an un-consumed record sits at the cursor
  private var filePos = startOffset // absolute file offset of buf(0)

  // Sub-range reads (split oversized segments): start MUST be a
  // record-aligned split point from the manifest; the reader stops at the
  // first record header at or past endOffset (-1 = end of file).
  if (startOffset > 0) {
    var toSkip = startOffset
    while (toSkip > 0) {
      val k = in.skip(toSkip)
      if (k <= 0) throw new EOFException(
        s"cannot seek to split offset $startOffset in $path")
      toSkip -= k
    }
  }

  var flags: Int = 0
  var payloadOffset: Int = 0
  var payloadLength: Int = 0
  // Compressed records decompress into this scratch; `buffer` then points
  // at it for exactly one record. Consumers never see the compressed bit.
  private var zscratch: Array[Byte] = null
  private var view: Array[Byte] = null
  def buffer: Array[Byte] = if (view != null) view else buf

  /** Ensure >= n bytes available at the cursor; compacts + refills. */
  private def ensure(n: Int): Boolean = {
    if (limit - pos >= n) return true
    if (eof) return limit - pos >= n
    // compact tail to front (cross-block reassembly)
    System.arraycopy(buf, pos, buf, 0, limit - pos)
    filePos += pos
    limit -= pos
    pos = 0
    if (n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(n, buf.length * 2))
    while (limit < n && !eof) {
      val r = in.read(buf, limit, buf.length - limit)
      if (r < 0) eof = true else limit += r
    }
    limit - pos >= n
  }

  /** Parse the next record in place; false at end of segment or range. */
  def advance(): Boolean = {
    if (endOffset >= 0 && filePos + pos >= endOffset) return false
    if (!ensure(RecordCodec.HeaderSize)) {
      if (limit - pos != 0)
        throw new EOFException(s"truncated record header in $path")
      return false
    }
    flags = buf(pos) & 0xff
    val size = ((buf(pos + 1) & 0xff) << 24) | ((buf(pos + 2) & 0xff) << 16) |
      ((buf(pos + 3) & 0xff) << 8) | (buf(pos + 4) & 0xff)
    pos += RecordCodec.HeaderSize
    if (!ensure(size)) throw new EOFException(s"truncated payload in $path")
    view = null
    payloadOffset = pos
    payloadLength = size
    pos += size
    if ((flags & RecordCodec.CompressedFlag) != 0) {
      // transparent per-record zstd: decompress into the scratch and hand
      // consumers the raw payload — the bit never escapes this parser
      val raw = com.github.luben.zstd.Zstd
        .decompressedSize(buf, payloadOffset, payloadLength)
      if (raw <= 0 || raw > Int.MaxValue)
        throw new java.io.IOException(s"corrupt compressed record in $path")
      if (zscratch == null || zscratch.length < raw.toInt)
        zscratch = new Array[Byte](Integer.highestOneBit(raw.toInt) * 2)
      val n =
        if ((flags & RecordCodec.DictFlag) != 0)
          // dictionary frame: decompress against the segment's trained
          // sidecar (loaded lazily once per reader)
          try dictCtx().decompressByteArray(
            zscratch, 0, zscratch.length, buf, payloadOffset, payloadLength).toLong
          catch {
            case e: java.io.IOException => throw e
            case _: Throwable => -1L
          }
        else com.github.luben.zstd.Zstd.decompressByteArray(
          zscratch, 0, zscratch.length, buf, payloadOffset, payloadLength)
      if (com.github.luben.zstd.Zstd.isError(n) || n != raw)
        throw new java.io.IOException(s"corrupt compressed record in $path")
      view = zscratch
      payloadOffset = 0
      payloadLength = raw.toInt
      flags &= ~(RecordCodec.CompressedFlag | RecordCodec.DictFlag)
    }
    true
  }

  private var dctx: com.github.luben.zstd.ZstdDecompressCtx = null
  private def dictCtx(): com.github.luben.zstd.ZstdDecompressCtx = {
    if (dctx == null) {
      val sidecar = path.resolveSibling(path.getFileName.toString + ".zdict")
      if (!java.nio.file.Files.exists(sidecar))
        throw new java.io.IOException(
          s"dictionary-compressed record but no sidecar $sidecar")
      dctx = new com.github.luben.zstd.ZstdDecompressCtx()
      dctx.loadDict(java.nio.file.Files.readAllBytes(sidecar))
    }
    dctx
  }

  // Copying Iterator view (tests / retaining callers).
  override def hasNext: Boolean = {
    if (!pending) pending = advance()
    pending
  }
  override def next(): (Int, Array[Byte]) = {
    if (!hasNext) throw new NoSuchElementException
    pending = false
    (flags, java.util.Arrays.copyOfRange(buffer, payloadOffset, payloadOffset + payloadLength))
  }

  override def close(): Unit = {
    in.close()
    if (dctx != null) dctx.close()
  }
}

object SegmentReader {
  val BlockSize: Int = 8 * 1024 * 1024 // reference engine.py:140
}

/** Accumulates per-column min/max/nullCount for atomic orderable types;
  * everything else records null counts only. Stats are serialized into the
  * manifest as strings and re-typed on read. */
final class StatsCollector private (schema: StructType) {
  private val n = schema.length
  private val mins = new Array[Any](n)
  private val maxs = new Array[Any](n)
  private val nulls = new Array[Long](n)
  private val orderable: Array[Boolean] = schema.fields.map(f => StatsCollector.isOrderable(f.dataType))
  // Exact per-segment SUMs for integral columns: a long accumulator that
  // promotes to BigInteger on overflow — powers metadata-only SUM
  // aggregate pushdown (a 100 TB SUM becomes a manifest read). Integral
  // only: float/double sums are order-dependent, so the scan path keeps
  // those honest.
  private val summable: Array[Boolean] = schema.fields.map(f => f.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  })
  private val sums = new Array[Long](n)
  private val sumsBig = new Array[java.math.BigInteger](n)

  def update(row: InternalRow): Unit = {
    var i = 0
    while (i < n) {
      if (row.isNullAt(i)) nulls(i) += 1
      else {
        if (orderable(i)) {
          // Compare BEFORE cloning: row buffers may be reused (UnsafeRow),
          // but a clone is only needed for the values we actually retain.
          val v = row.get(i, schema(i).dataType)
          if (mins(i) == null || StatsCollector.lt(v, mins(i)))
            mins(i) = StatsCollector.retain(v)
          if (maxs(i) == null || StatsCollector.lt(maxs(i), v))
            maxs(i) = StatsCollector.retain(v)
        }
        if (summable(i)) {
          val l = schema(i).dataType match {
            case ByteType => row.getByte(i).toLong
            case ShortType => row.getShort(i).toLong
            case IntegerType => row.getInt(i).toLong
            case _ => row.getLong(i)
          }
          if (sumsBig(i) != null)
            sumsBig(i) = sumsBig(i).add(java.math.BigInteger.valueOf(l))
          else
            try sums(i) = Math.addExact(sums(i), l)
            catch {
              case _: ArithmeticException =>
                sumsBig(i) = java.math.BigInteger.valueOf(sums(i))
                  .add(java.math.BigInteger.valueOf(l))
            }
        }
      }
      i += 1
    }
  }

  /** `withSums = false` (block stats) leaves sums out of the rendered map —
    * aggregate pushdown is segment-granular, and per-block sums would only
    * bloat the manifest. */
  def result(withSums: Boolean = true): Map[String, ColumnStats] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      // Long STRING bounds are truncated (Iceberg-style) so a document
      // corpus never embeds whole texts in the manifest: min → 64-char
      // prefix (a prefix is always <= the full string bytewise), max →
      // ASCII-successor of the prefix (> every string carrying it), or no
      // upper bound when no prefix char is incrementable. Conservative
      // for pruning; `exact = false` makes aggregate pushdown decline.
      val (mnR, mxR, exact) = (Option(mins(i)), Option(maxs(i))) match {
        case (Some(a: UTF8String), b) =>
          val minS = a.toString
          val maxS = b.map(_.toString)
          val cap = StatsCollector.MaxStringBound
          if (minS.length <= cap && maxS.forall(_.length <= cap))
            (Some(minS), maxS, true)
          else (
            Some(minS.take(cap)),
            maxS.flatMap(s =>
              if (s.length <= cap) Some(s)
              else StatsCollector.asciiSuccessor(s.take(cap))),
            false)
        case (a, b) =>
          (a.map(StatsCollector.render), b.map(StatsCollector.render), true)
      }
      f.name -> ColumnStats(
        min = mnR,
        max = mxR,
        nullCount = nulls(i),
        sum =
          if (!summable(i) || !withSums) None
          else Some(
            if (sumsBig(i) != null) sumsBig(i).toString else sums(i).toString),
        exact = exact)
    }.toMap
}

object StatsCollector {
  def apply(schema: StructType): StatsCollector = new StatsCollector(schema)

  /** Longest string stored verbatim as a manifest bound. */
  val MaxStringBound: Int = 64

  /** A string strictly greater (bytewise UTF-8) than every string with
    * prefix `p`: increment the rightmost ASCII (< 0x7f) char and drop the
    * tail — positions before it compare equal, and at it the single-byte
    * successor beats the original byte. None when no char is safely
    * incrementable (then there is no cheap upper bound). */
  def asciiSuccessor(p: String): Option[String] = {
    var i = p.length - 1
    while (i >= 0 && p.charAt(i) >= 0x7f) i -= 1
    if (i < 0) None
    else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }

  def isOrderable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | StringType | DateType | TimestampType |
         TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Detach a value from a possibly-reused row buffer before storing it. */
  def retain(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case x => x
  }

  def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: UTF8String, y: UTF8String) => x.compareTo(y) < 0
    case (x: java.lang.Comparable[Any] @unchecked, y) => x.compareTo(y) < 0
    case _ => false
  }

  /** Render a stats value to a string round-trippable via [[parse]]. */
  def render(v: Any): String = v.toString

  /** Parse a manifest stats string back to the internal-comparable form for
    * the given column type. */
  def parse(s: String, dt: DataType): Any = dt match {
    case BooleanType => java.lang.Boolean.valueOf(s)
    case ByteType => java.lang.Byte.valueOf(s)
    case ShortType => java.lang.Short.valueOf(s)
    case IntegerType | DateType => java.lang.Integer.valueOf(s)
    case LongType | TimestampType | TimestampNTZType => java.lang.Long.valueOf(s)
    case FloatType => java.lang.Float.valueOf(s)
    case DoubleType => java.lang.Double.valueOf(s)
    case StringType => UTF8String.fromString(s)
    case d: DecimalType => Decimal(new java.math.BigDecimal(s), d.precision, d.scale)
    case _ => null
  }
}
