package graft.spark

import java.nio.file.Path

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.connector.expressions.{NamedReference, Expression => V2Expression, Literal => V2Literal}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

import graft.meta.{CollectionMeta, CommitConflictException}

/** SQL row-level DELETE (`DELETE FROM hadro_catalog.db.t WHERE ...`) — the
  * reference's declared delete contract (`/root/reference/INTERFACE.md:15-17`)
  * reachable from pure SQL, not just the Scala Collection API.
  *
  * Two execution strategies, chosen by collection kind:
  *
  *   - '''Keyed collection → merge-on-read tombstones.''' The keys whose
  *     latest live version matches the predicate are appended as key-only
  *     tombstone records through the existing `hadro.tombstone` write path
  *     in ONE manifest commit — O(matching keys) bytes written, no data
  *     rewrite, the Bitcask-native delete shape. Resolved reads
  *     (`Collection.toDF/get/where`) hide the keys immediately; raw scans
  *     keep reference-`scan()` parity (shadowed versions stay visible,
  *     `hadro/engine.py:139-177`).
  *
  *   - '''Non-keyed collection → segment-selective copy-on-write.''' Only
  *     segments whose manifest stats/blooms say they MIGHT contain matching
  *     rows are rewritten without the matching rows; untouched segments are
  *     carried over by reference in the same atomic replace commit
  *     (`hadro.replaceFiles`). A predicate that prunes to 3 of 10k segments
  *     rewrites exactly 3 files — plain SQL `SELECT` semantics, at
  *     rewrite-what-you-must cost.
  */
object HadroDeleteSupport {

  /** Translate Spark's V2 delete predicates to V1 filters. Supported:
    * comparisons, IN, null tests, string affixes, AND/OR/NOT, literal
    * true/false. Anything else (subqueries, expressions over columns)
    * returns None and [[canDelete]] reports the delete as unsupported —
    * Spark then raises its standard "cannot delete" analysis error. */
  def toV1(p: Predicate): Option[Filter] = {
    def ref(e: V2Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }
    def lit(e: V2Expression): Option[Any] = e match {
      // Only atomic types `functions.lit` can rebuild from the converted
      // Scala value: a complex-typed literal (array/map/struct equality)
      // must make toV1 return None HERE so canDelete reports unsupported —
      // accepting it and letting toColumn's lit() throw later would turn
      // Spark's standard unsupported-delete analysis error into an obscure
      // runtime failure.
      case l: V2Literal[_] if litConvertible(l.dataType) =>
        try Some(CatalystTypeConverters.createToScalaConverter(l.dataType)(l.value))
        catch { case _: Exception => None }
      case _ => None
    }
    def str(e: V2Expression): Option[String] = lit(e).collect { case s: String => s }
    // col-op-lit with the mirrored lit-op-col form normalized
    def cmp(l: V2Expression, r: V2Expression,
        direct: (String, Any) => Filter, flipped: (String, Any) => Filter): Option[Filter] =
      ref(l).flatMap(c => lit(r).map(direct(c, _)))
        .orElse(ref(r).flatMap(c => lit(l).map(flipped(c, _))))
    def sub(e: V2Expression): Option[Filter] = e match {
      case sp: Predicate => toV1(sp)
      case _ => None
    }
    val ch = p.children()
    p.name() match {
      case "ALWAYS_TRUE" => Some(AlwaysTrue)
      case "ALWAYS_FALSE" => Some(AlwaysFalse)
      case "IS_NULL" if ch.length == 1 => ref(ch(0)).map(IsNull)
      case "IS_NOT_NULL" if ch.length == 1 => ref(ch(0)).map(IsNotNull)
      case "IN" if ch.nonEmpty =>
        val vs = ch.tail.toSeq.map(lit)
        for { c <- ref(ch.head); if vs.forall(_.isDefined) }
          yield In(c, vs.map(_.get).toArray)
      case "=" if ch.length == 2 => cmp(ch(0), ch(1), EqualTo, EqualTo)
      // a <> b is NOT(a = b) under SQL semantics (NULL stays NULL)
      case "<>" if ch.length == 2 =>
        cmp(ch(0), ch(1), (c, v) => Not(EqualTo(c, v)),
          (c, v) => Not(EqualTo(c, v)))
      case "<=>" if ch.length == 2 => cmp(ch(0), ch(1), EqualNullSafe, EqualNullSafe)
      case "<" if ch.length == 2 => cmp(ch(0), ch(1), LessThan, GreaterThan)
      case "<=" if ch.length == 2 => cmp(ch(0), ch(1), LessThanOrEqual, GreaterThanOrEqual)
      case ">" if ch.length == 2 => cmp(ch(0), ch(1), GreaterThan, LessThan)
      case ">=" if ch.length == 2 => cmp(ch(0), ch(1), GreaterThanOrEqual, LessThanOrEqual)
      case "STARTS_WITH" if ch.length == 2 =>
        for { c <- ref(ch(0)); v <- str(ch(1)) } yield StringStartsWith(c, v)
      case "ENDS_WITH" if ch.length == 2 =>
        for { c <- ref(ch(0)); v <- str(ch(1)) } yield StringEndsWith(c, v)
      case "CONTAINS" if ch.length == 2 =>
        for { c <- ref(ch(0)); v <- str(ch(1)) } yield StringContains(c, v)
      case "AND" if ch.length == 2 =>
        for { l <- sub(ch(0)); r <- sub(ch(1)) } yield And(l, r)
      case "OR" if ch.length == 2 =>
        for { l <- sub(ch(0)); r <- sub(ch(1)) } yield Or(l, r)
      case "NOT" if ch.length == 1 => sub(ch(0)).map(Not)
      case _ => None
    }
  }

  /** A V1 filter as a Catalyst [[Column]] — the exact row-level predicate
    * the delete evaluates (segment skipping is only ever a pre-filter). */
  def toColumn(f: Filter): Column = f match {
    case AlwaysTrue() => lit(true)
    case AlwaysFalse() => lit(false)
    case EqualTo(c, v) => col(c) === typedlitAny(v)
    case EqualNullSafe(c, v) => col(c) <=> typedlitAny(v)
    case LessThan(c, v) => col(c) < typedlitAny(v)
    case LessThanOrEqual(c, v) => col(c) <= typedlitAny(v)
    case GreaterThan(c, v) => col(c) > typedlitAny(v)
    case GreaterThanOrEqual(c, v) => col(c) >= typedlitAny(v)
    case In(c, vs) => col(c).isin(vs.toIndexedSeq: _*)
    case IsNull(c) => col(c).isNull
    case IsNotNull(c) => col(c).isNotNull
    case StringStartsWith(c, v) => col(c).startsWith(v)
    case StringEndsWith(c, v) => col(c).endsWith(v)
    case StringContains(c, v) => col(c).contains(v)
    case And(l, r) => toColumn(l) && toColumn(r)
    case Or(l, r) => toColumn(l) || toColumn(r)
    case Not(inner) => !toColumn(inner)
    case other => throw new UnsupportedOperationException(
      s"hadro: untranslatable DELETE filter $other")
  }

  /** Only values [[toV1]]'s litConvertible gate let through reach here,
    * so `functions.lit` cannot throw. */
  private def typedlitAny(v: Any): Column = org.apache.spark.sql.functions.lit(v)

  /** Atomic types whose converted Scala values `functions.lit` accepts. */
  private def litConvertible(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType => true
      case StringType | BooleanType | BinaryType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  def canDelete(predicates: Array[Predicate]): Boolean =
    predicates.forall(toV1(_).isDefined)

  def deleteWhere(path: Path, predicates: Array[Predicate]): Unit = {
    val spark = SparkSession.active
    val filters: Array[Filter] = predicates.map(p => toV1(p).getOrElse(
      throw new UnsupportedOperationException(
        s"hadro: cannot translate DELETE predicate $p")))
    // Spark hands the WHERE clause as conjuncts; deletion hits rows where
    // ALL of them are true. Rows where the predicate is NULL are KEPT —
    // SQL DELETE semantics.
    val cond: Column = filters.map(toColumn).reduceOption(_ && _).getOrElse(lit(true))
    val meta = CollectionMeta.readSchema(path).getOrElse(
      throw new IllegalStateException(s"hadro: no collection at $path"))
    val m0 = CollectionMeta.currentManifest(path)
    if (m0.segments.isEmpty) return

    meta.keyField match {
      case Some(k) => deleteKeyed(spark, path, k, cond, m0.mutated)
      case None =>
        val mode = org.apache.spark.sql.internal.SQLConf.get
          .getConfString("spark.hadro.delete.mode", "cow")
        // Bounded auto-retry for BOTH modes: a conflicting dv delete /
        // compaction / rewrite landing between our scan and commit is
        // detected as a retryable conflict — re-plan against the fresh
        // manifest and re-run the whole statement (idempotent: rows
        // already deleted by the competing commit cannot re-match).
        val useDv = mode.equalsIgnoreCase("dv")
        CommitConflictException.retrying(s"hadro: DELETE on $path") { attempt =>
          val m = if (attempt == 0) m0 else CollectionMeta.currentManifest(path)
          if (useDv) deleteVectors(spark, path, cond, m)
          else deleteCopyOnWrite(spark, path, filters, cond, m, meta)
        }
    }
  }

  /** PHYSICAL-ROW delete by predicate through deletion vectors,
    * independent of keyed-ness — the engine-internal seam the LSH index
    * mutation path rides ([[graft.ops.DedupOps]]): masking a re-crawled
    * doc's stale rows must not append tombstones (which would flip the
    * `mutated` flag and force LWW window resolution onto every raw
    * index scan) — a DV sidecar hides the exact physical rows at scan
    * time, map-only, and the manifest's `mutated` flag stays false.
    * Same bounded conflict-retry discipline as the SQL statement path.
    * NOT the SQL DELETE semantics for keyed tables (that stays
    * tombstone merge-on-read via [[deleteWhere]]). */
  private[graft] def dvDeleteWhere(path: Path, cond: Column): Unit =
    CommitConflictException.retrying(s"hadro: dv delete on $path") { _ =>
      val m = CollectionMeta.currentManifest(path)
      if (m.segments.nonEmpty) deleteVectors(SparkSession.active, path, cond, m)
    }

  /** Keyed delete: append one tombstone per key whose latest live version
    * matches — a single write job, a single manifest commit. */
  private def deleteKeyed(spark: SparkSession, path: Path, k: String,
      cond: Column, mutated: Boolean): Unit = {
    val keys =
      if (!mutated) {
        // pure-append: every record IS the latest version of its key
        spark.read.format("hadro").load(path.toString)
          .filter(cond).select(col(k)).distinct()
      } else {
        // Resolve latest-per-key, but only over CANDIDATE keys (those with
        // at least one live cond-matching version): at 100 TB the LWW
        // window shuffles the candidate slice, not the collection. An old
        // version matching while the latest doesn't must NOT delete — so
        // the window runs over every version of each candidate key and the
        // predicate is re-checked on the latest one.
        val full = spark.read.format("hadro")
          .option("hadro.changefeed", "full").load(path.toString)
        val candidates = full
          .filter(!col(HadroTable.DeletedCol) && cond)
          .select(col(k)).distinct()
        val w = Window.partitionBy(col(k)).orderBy(col(HadroTable.SeqCol).desc)
        full.join(candidates, Seq(k), "left_semi")
          .withColumn("__hadro_rn", row_number().over(w))
          .filter(col("__hadro_rn") === 1 && !col(HadroTable.DeletedCol))
          .filter(cond)
          .select(col(k))
      }
    keys.write.format("hadro").mode("append")
      .option("hadro.tombstone", "true").save(path.toString)
  }

  /** Non-keyed delete: rewrite ONLY the segments that might contain
    * matching rows (manifest stats + bloom pruning decide), replacing them
    * atomically; the rest of the collection is never read or written. */
  private def deleteCopyOnWrite(spark: SparkSession, path: Path,
      filters: Array[Filter], cond: Column, m0: graft.meta.Manifest,
      meta: CollectionMeta.SchemaMeta): Unit = {
    val schema = meta.schema
    val affected = m0.segments.filter(seg =>
      SegmentSkipper.mightMatch(seg, filters, schema) &&
        BloomSidecar.mightMatch(path, seg, filters, schema) &&
        BloomSidecar.compositeMightMatch(path, seg, m0.indexes, filters, schema))
    if (affected.isEmpty) return // statically provable no-op

    val keep = spark.read.format("hadro")
      .option("hadro.files", affected.map(_.file).mkString(","))
      .load(path.toString)
      .filter(!coalesce(cond, lit(false)))
    var writer = keep.write.format("hadro").mode("append")
      .option("hadro.replaceFiles", affected.map(_.file).mkString(","))
      .option("hadro.replaceGen", m0.generation.toString)
      // plan-time dv state per replaced file: a dv DELETE landing between
      // this plan and the commit conflicts instead of being resurrected
      .option("hadro.replaceDv",
        affected.map(s => s"${s.file}=${s.deleteVector.getOrElse("")}").mkString(","))
    // a bucketed collection's rewritten segments re-tag under the same spec
    (m0.bucketBy, m0.numBuckets) match {
      case (Some(c), Some(n)) =>
        writer = writer.option("hadro.bucketBy", c).option("hadro.buckets", n.toString)
      case _ => ()
    }
    writer.save(path.toString)
  }

  /** Non-keyed delete via DELETION VECTORS (merge-on-read), opt-in with
    * `spark.hadro.delete.mode=dv`: one bitmap sidecar per affected segment
    * marks the matched in-segment row indices — O(matched rows) bytes
    * written instead of CoW's O(affected segment bytes) rewrite, the right
    * trade when deletes touch a small fraction of huge segments. Matching
    * rides the normal pruned scan (stats/bloom segment skipping applies);
    * bitmaps are built and written one EXECUTOR task per affected segment
    * (the shuffle key is the segment ordinal, same shape as index builds);
    * one metadata commit flips every segment to its new union vector.
    * Readers skip vectored rows unconditionally, so the delete is
    * idempotent — a re-run cannot re-match hidden rows. Sidecars are
    * immutable: retained manifest versions keep their exact historical
    * view (time travel). Any concurrent conflicting commit — truncate,
    * compaction, segment rewrite, or ANOTHER deletion-vector commit whose
    * union this attempt did not build on — aborts with
    * [[CommitConflictException]]; the statement-level loop in
    * [[deleteWhere]] then re-plans against the fresh manifest and retries
    * (bounded), so concurrent dv deletes serialize instead of silently
    * resurrecting each other's rows. */
  private def deleteVectors(spark: SparkSession, path: Path, cond: Column,
      m0: graft.meta.Manifest): Unit = {
    import org.apache.spark.sql.Encoders
    val seqc = col(graft.spark.HadroTable.SeqCol)
    val mask = (1L << HadroTable.SeqOrdinalShift) - 1
    val pairs = spark.read.format("hadro").load(path.toString)
      .filter(cond)
      .select(
        call_function("shiftright", seqc, lit(HadroTable.SeqOrdinalShift)).as("ord"),
        seqc.bitwiseAND(lit(mask)).as("row"))
      .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    val dirStr = path.toString
    val existing: Map[Long, String] =
      m0.segments.flatMap(s => s.deleteVector.map(s.ordinal -> _)).toMap
    val segFiles: Map[Long, String] = m0.segments.map(s => s.ordinal -> s.file).toMap
    val buildId = java.lang.Long.toHexString(System.nanoTime())
    val results: Array[(Long, String, Long)] = pairs
      .groupByKey(_._1)(Encoders.scalaLong)
      .mapGroups { (ord, it) =>
        val base = java.nio.file.Paths.get(dirStr)
        val bits = existing.get(ord)
          .map(n => graft.format.DeleteVector.read(base.resolve(n)))
          .getOrElse(new java.util.BitSet())
        it.foreach { case (_, r) =>
          require(r <= Int.MaxValue, s"hadro: row index $r exceeds vector range")
          bits.set(r.toInt)
        }
        val name = s"${segFiles(ord)}.dv-$buildId.dv"
        graft.format.DeleteVector.write(base.resolve(name), bits)
        (ord, name, bits.cardinality().toLong)
      }(Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong))
      .collect()
    if (results.isEmpty) return // no matching rows anywhere
    val byOrd = results.map(r => r._1 -> r).toMap
    def conflict(msg: String): Nothing = {
      // drop this attempt's orphaned sidecars before re-planning
      results.foreach { case (_, name, _) =>
        try java.nio.file.Files.deleteIfExists(path.resolve(name))
        catch { case _: Exception => () }
      }
      throw new CommitConflictException(msg)
    }
    CollectionMeta.commit(path, cur => {
      if (cur.generation != m0.generation) conflict(
        "hadro: DELETE conflicted with a concurrent truncate/compaction — retry")
      byOrd.keys.foreach { ord =>
        val seg = cur.segments.find(s => s.ordinal == ord && s.file == segFiles(ord))
          .getOrElse(conflict(
            "hadro: DELETE conflicted with a concurrent segment rewrite — retry"))
        // The union was built on top of m0's vector: if the CURRENT vector
        // differs, another dv delete (or row-level op) committed in between
        // and replacing its sidecar with ours would silently resurrect the
        // rows it deleted. Identity (ordinal,file,generation) does NOT
        // catch that — the base vector itself must be unchanged.
        if (seg.deleteVector != existing.get(ord)) conflict(
          "hadro: DELETE conflicted with a concurrent deletion-vector " +
            "commit — retry")
      }
      cur.copy(segments = cur.segments.map { s =>
        byOrd.get(s.ordinal) match {
          case Some((_, name, total)) =>
            s.copy(deleteVector = Some(name), dvDeletes = total)
          case None => s
        }
      })
    })
  }
}
