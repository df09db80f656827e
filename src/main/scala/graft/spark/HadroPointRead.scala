package graft.spark

import java.nio.file.Path
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.meta.CollectionMeta

/** Driver-side keyed point read — the Bitcask `get` (KeyDir lookup, one
  * seek per record) over a hadro collection, with no Spark job.
  *
  * The scan is built the normal way ([[HadroTable.newScanBuilder]], the
  * key predicate pushed as `EqualTo`/`In`, columns pruned to the table
  * schema plus `_hadro_seq`/`_hadro_deleted`), so segment pruning (stats,
  * key blooms) and the key→offset index plan it exactly as they plan a
  * distributed read. The point path applies only when EVERY planned
  * partition is a single-record range or a [[PointBatchPartition]]: the
  * driver then reads bytes proportional to the matching records, never a
  * whole segment, through the scan's own [[HadroReaderFactory]] — deletion
  * vectors, tombstones, compression, `nFields` evolution and `writeTypes`
  * widening keep their one implementation.
  *
  * Resolution is last-write-wins over the records read: on a mutated
  * collection the highest `_hadro_seq` per key wins and a winning
  * tombstone hides the key; on a never-mutated one every live match is
  * returned (duplicate keys included), exactly like the resolved view.
  * The manifest is the scan's own pinned snapshot, read at the call, so
  * every write committed before the call is visible. The result is a
  * local frame: collecting, counting or probing it runs no Spark job. */
object HadroPointRead {

  /** The key values converted EXACTLY to the key column's type (Int
    * widens to Long, the same promotion `===` applies), or None when some
    * value does not convert. Null values match nothing (`=`/`IN`
    * semantics) and are dropped. Floating and temporal keys are not
    * served: their equality (NaN, -0.0, time zones) is not a plain
    * value match. */
  private def exactKeys(values: Seq[Any], dt: DataType): Option[Seq[Any]] = {
    val converted = values.filter(_ != null).map { v =>
      (dt, v) match {
        case (LongType, l: Long) => Some(l)
        case (LongType, i: Int) => Some(i.toLong)
        case (IntegerType, i: Int) => Some(i)
        case (ShortType, s: Short) => Some(s)
        case (ByteType, b: Byte) => Some(b)
        case (StringType, s: String) => Some(s)
        case _ => None
      }
    }
    if (converted.forall(_.isDefined)) Some(converted.map(_.get).distinct)
    else None
  }

  private def isPointRead(p: InputPartition): Boolean = p match {
    case r: HadroInputPartition => r.endOffset == r.startOffset + 1
    case _: PointBatchPartition => true
    case _ => false
  }

  /** The records of the collection at `path` whose key column `key`
    * equals one of `values`, resolved as described above — or None when
    * the point path does not apply (more than `maxKeys` distinct values,
    * a value that does not convert exactly, or a planned partition that
    * is not a point range: no key→offset index, reported bucket/identity
    * partitioning). Callers fall back to the distributed plan. */
  def read(spark: SparkSession, path: Path, key: String, values: Seq[Any],
      maxKeys: Int): Option[DataFrame] = {
    val meta = CollectionMeta.readSchema(path).getOrElse(return None)
    val schema = HadroTable.reportedSchema(meta)
    val keyType = schema(key).dataType
    val keys = exactKeys(values, keyType).getOrElse(return None)
    if (keys.size > maxKeys) return None
    if (keys.isEmpty) return Some(spark.createDataFrame(List.empty[Row].asJava, schema))

    val builder = new HadroTable(path, schema).newScanBuilder(
      new CaseInsensitiveStringMap(java.util.Map.of("path", path.toString)))
      .asInstanceOf[HadroScanBuilder]
    val filter: Filter =
      if (keys.size == 1) EqualTo(key, keys.head) else In(key, keys.toArray)
    builder.pushFilters(Array(filter))
    val required = StructType(schema.fields :+
      StructField(HadroTable.SeqCol, LongType, nullable = false) :+
      StructField(HadroTable.DeletedCol, BooleanType, nullable = false))
    builder.pruneColumns(required)
    val scan = builder.build().asInstanceOf[HadroScan]
    val parts = scan.toBatch.planInputPartitions()
    if (!parts.forall(isPointRead)) return None

    val keyOrd = schema.fieldIndex(key)
    val seqOrd = schema.length
    val delOrd = schema.length + 1
    val wanted = keys.map(CatalystTypeConverters.createToCatalystConverter(keyType)).toSet
    val factory = scan.createReaderFactory()
    val records = parts.toSeq.flatMap { p =>
      val reader = factory.createReader(p)
      try {
        val out = Seq.newBuilder[InternalRow]
        while (reader.next()) {
          val r = reader.get()
          // the index is hash-addressed: drop colliding neighbours
          if (wanted(r.get(keyOrd, keyType))) out += r.copy()
        }
        out.result()
      } finally reader.close()
    }
    val live =
      if (scan.manifestSnapshot.mutated)
        records.groupBy(_.get(keyOrd, keyType)).values
          .map(_.maxBy(_.getLong(seqOrd))).toSeq
      else records
    val toRow = CatalystTypeConverters.createToScalaConverter(required)
    val rows = live.filterNot(_.getBoolean(delOrd)).sortBy(_.getLong(seqOrd))
      .map(r => Row.fromSeq(toRow(r).asInstanceOf[Row].toSeq.take(schema.length)))
    Some(spark.createDataFrame(rows.asJava, schema))
  }
}
