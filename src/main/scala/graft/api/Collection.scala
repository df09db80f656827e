package graft.api

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.meta.{CollectionMeta, CommitConflictException}
import graft.spark.HadroTable

/** User-facing handle on a hadro collection, implementing the reference's
  * declared contract (`/root/reference/INTERFACE.md`) on DataFrames:
  * get / multiGet (#10), set (#11), add-returns-id (#12 — fixing the
  * reference's missing return, `hadro/engine.py:122-137`), delete (#13),
  * contains (#14), ids (#15), count (#16), where (#17), compact (#23).
  *
  * Keyed semantics are last-write-wins over the append-only log: `set`
  * appends new versions, `delete` appends tombstones, and reads resolve the
  * latest record per key via a window over the `_hadro_seq` metadata column
  * (point reads apply the same rule on the driver, see [[get]]).
  * Pure-append collections (no set/delete ever committed) skip resolution
  * entirely — the manifest tracks a `mutated` bit — so plain scans stay
  * shuffle-free at any scale.
  */
final class Collection private (spark: SparkSession, val path: String) {
  import spark.implicits._

  private def dir: Path = Paths.get(path)
  def keyField: Option[String] = CollectionMeta.readSchema(dir).flatMap(_.keyField)
  private def manifest = CollectionMeta.currentManifest(dir)

  /** Raw log scan — reference `scan()` parity (`hadro/engine.py:139-177`):
    * every non-tombstoned record, including shadowed old versions. */
  def scan(): DataFrame = spark.read.format("hadro").load(path)

  /** Time travel: the collection exactly as of a committed manifest
    * version (segments are immutable, so any retained version — the last
    * 16, and none crossing a compaction — reconstructs its state). */
  def scanVersion(version: Long): DataFrame =
    spark.read.format("hadro").option("hadro.versionAsOf", version).load(path)

  /** Current committed manifest version (for use with [[scanVersion]]). */
  def version: Long = manifest.version

  /** The resolved view: latest version per key, tombstones removed. */
  def toDF(): DataFrame = keyField match {
    case Some(k) if manifest.mutated => resolve(scan(), k)
    case _ => scan()
  }

  private def resolve(raw0: DataFrame, k: String): DataFrame = {
    val raw = raw0.select(col("*"),
      col(HadroTable.SeqCol), col(HadroTable.DeletedCol))
    val w = Window.partitionBy(col(k)).orderBy(col(HadroTable.SeqCol).desc)
    raw.withColumn("__hadro_rn", row_number().over(w))
      .filter(col("__hadro_rn") === 1 && !col(HadroTable.DeletedCol))
      .drop("__hadro_rn", HadroTable.SeqCol, HadroTable.DeletedCol)
  }

  /** Resolved (LWW-collapsed, tombstone-free) view AS OF a pinned version
    * — the stable input compaction and clustering rewrite, and the basis
    * for version DIFFS (`h29`): `resolvedAsOf(v2).exceptAll(resolvedAsOf
    * (v1))` is "rows added between v1 and v2". Immune to commits landing
    * mid-job because the segment set is pinned by the manifest. */
  def resolvedAsOf(version: Long): DataFrame = keyField match {
    case Some(k) if manifest.mutated => resolve(scanVersion(version), k)
    case _ => scanVersion(version)
  }

  /** [[resolvedAsOf]] RESTRICTED to the key values in `touched` (a
    * one-column frame), with the restriction applied BELOW the LWW
    * window: per-key row_number ranks are independent across keys, so
    * restrict-then-resolve equals resolve-then-restrict while the window
    * shuffle carries only the touched keys' rows — never the table.
    * Bounded key sets (≤ [[Collection.MaxKeyPushdown]], measured by a
    * touched-side probe) additionally push into the snapshot scan as an
    * IN predicate, where the per-segment key bloom / key-offset sidecars
    * prune untouched segments outright (the `liveTopK` shape,
    * `ops/SimilarityOps.scala`); larger sets fall back to a semi join
    * (AQE broadcasts the key side when it fits) — the scan still reads
    * the snapshot, but nothing table-sized crosses an exchange. This is
    * what keeps the keyed incremental-consumer loop
    * ([[ChangeFeed.updateImages]] → [[IncrementalRollup.cycleKeyed]])
    * window-proportional instead of table-proportional per cycle.
    *
    * ASSUMES NON-NULL KEYS (both `isin` and the semi join drop NULLs):
    * key values come from the collection's own records, and keyed
    * semantics — LWW ranking, tombstones, point gets — are only defined
    * over concrete key values; a NULL key never names a row. */
  def resolvedAsOf(version: Long, touched: DataFrame): DataFrame = {
    val k = keyField.getOrElse(throw new IllegalArgumentException(
      "resolvedAsOf(version, touched) requires a keyed collection"))
    require(touched.columns.length == 1,
      s"touched-keys frame must have exactly one column, got " +
        touched.columns.mkString(", "))
    // the caller's touched frame is typically a changes-window scan:
    // checkpointed (lazily, see boundedRows) it runs once for both the
    // bounded probe and the semi-join restriction; literal keys turn
    // the restriction into scan pushdown
    val keys = touched.select(col(touched.columns.head).as(k)).distinct()
      .localCheckpoint(eager = false)
    val lits = Collection.boundedKeyLits(keys, Collection.MaxKeyPushdown)
    def restrict(df: DataFrame): DataFrame = lits match {
      case Some(vs) => df.filter(col(k).isin(vs: _*))
      case None => df.join(keys, Seq(k), "left_semi")
    }
    if (!manifest.mutated) restrict(scanVersion(version))
    else {
      // metadata columns pinned BEFORE the semi join (they resolve only
      // against the scan relation, not through joins)
      val raw = scanVersion(version).select(col("*"),
        col(HadroTable.SeqCol), col(HadroTable.DeletedCol))
      val w = Window.partitionBy(col(k)).orderBy(col(HadroTable.SeqCol).desc)
      restrict(raw).withColumn("__hadro_rn", row_number().over(w))
        .filter(col("__hadro_rn") === 1 && !col(HadroTable.DeletedCol))
        .drop("__hadro_rn", HadroTable.SeqCol, HadroTable.DeletedCol)
    }
  }

  /** Append rows (no keyed semantics — fastest path, pure log append). */
  def append(df: DataFrame, consistency: String = "relaxed"): Unit =
    df.write.format("hadro").mode("append")
      .option("hadro.consistency", consistency)
      .option("hadro.key", keyField.orNull)
      .save(path)

  /** Keyed upsert — last-write-wins on this collection's key (#11). */
  def set(df: DataFrame): Unit = {
    require(keyField.isDefined, "set() requires a keyed collection")
    df.write.format("hadro").mode("append").option("hadro.upsert", "true").save(path)
  }

  /** Single-document upsert — the literal `hadro.set(id, document)` form
    * (`INTERFACE.md:11`). The document is a field-name -> value map;
    * missing nullable fields become nulls on write. */
  def set(key: Any, doc: Map[String, Any]): Unit = {
    val k = keyField.getOrElse(throw new IllegalArgumentException(
      "set(key, doc) requires a keyed collection"))
    set(docToDF(doc + (k -> key)))
  }

  /** Single-document insert returning the generated id — the literal
    * `id = hadro.add(document)` form (`INTERFACE.md:13`). */
  def add(doc: Map[String, Any]): String = {
    add(docToDF(doc)).select("_id").head().getString(0)
  }

  /** One-row DataFrame for a document map, typed from the stored schema. */
  private def docToDF(doc: Map[String, Any]): DataFrame = {
    val schema = CollectionMeta.readSchema(dir).get.schema
    val fields = schema.fields.filter(f => doc.contains(f.name))
    val unknown = doc.keySet -- schema.fieldNames.toSet
    require(unknown.isEmpty, s"unknown fields ${unknown.mkString(", ")} " +
      s"for schema ${schema.simpleString}")
    val row = org.apache.spark.sql.Row.fromSeq(fields.toSeq.map(f => doc(f.name)))
    spark.createDataFrame(java.util.List.of(row),
      org.apache.spark.sql.types.StructType(fields))
  }

  /** Insert with generated ids; returns the appended rows incl. their new
    * `_id` (#12). UUIDs are generated distributed-safely (no driver loop). */
  def add(df: DataFrame): DataFrame = {
    require(keyField.contains("_id"),
      "add() requires a collection keyed on auto-generated '_id'")
    // Deterministic ids, no dataset-sized cache: uuid() is re-evaluated per
    // action, so "returned frame == written rows" used to require caching
    // the whole input — a MEMORY_AND_DISK copy of every bulk add. Instead
    // the id is a UUID-formatted md5 of (per-call salt, row position);
    // re-evaluating the frame for the write and for later reads yields the
    // same ids whenever the input's row positions are stable. Inputs whose
    // positions are NOT stable across evaluations (shuffled/repartitioned
    // frames, non-deterministic expressions) are pinned with an eager
    // localCheckpoint first — paying materialization only where the old
    // unconditional cache() was actually needed.
    val salt = java.util.UUID.randomUUID().toString
    val h = md5(concat_ws(":", lit(salt), monotonically_increasing_id().cast("string")))
    val raw = df.withColumn("_id", concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12)))
    val withIds =
      if (Collection.orderStable(df.queryExecution.analyzed)) raw
      else raw.localCheckpoint()
    withIds.write.format("hadro").mode("append").option("hadro.upsert", "true").save(path)
    withIds
  }

  /** Delete by key values (#13): appends key-only tombstone records. */
  def delete(keys: DataFrame): Unit = {
    val k = keyField.getOrElse(throw new IllegalArgumentException(
      "delete() requires a keyed collection"))
    require(keys.columns.sameElements(Array(k)),
      s"delete() frame must have exactly the key column '$k'")
    keys.write.format("hadro").mode("append").option("hadro.tombstone", "true").save(path)
  }

  def delete(values: Any*): Unit = {
    val k = requireKeyed("delete()")
    val kt = CollectionMeta.readSchema(dir).get.schema(k).dataType
    val df = values.map(_.toString).toDF(k).select(col(k).cast(kt).as(k))
    delete(df)
  }

  private def requireKeyed(op: String): String = keyField.getOrElse(
    throw new IllegalArgumentException(s"$op requires a keyed collection"))

  /** Point lookup by key (#10), the Bitcask read. The key→offset index
    * plans one single-record read per stored version of the key, and the
    * driver reads those records itself, resolves last-write-wins and
    * returns a local frame: collecting, counting or probing it runs no
    * Spark job ([[graft.spark.HadroPointRead]]). The lazy resolved-view
    * plan `toDF().filter(key === value)` is the fallback when some live
    * segment has no offset index (`hadro.offsetIndex=false`), when the
    * scan reports bucket/identity partitioning, or when the value does not
    * convert exactly to the key type (Int widens to Long). Either way the
    * result reflects every write committed before the call. */
  def get(value: Any): DataFrame = {
    val k = requireKeyed("get()")
    pointRead(k, Seq(value)).getOrElse(toDF().filter(col(k) === lit(value)))
  }

  /** Point lookup with a default — the legacy behavioral contract
    * (`/root/reference/tests/#test_disk_store_original.py:48-53`:
    * `store.get(key, default)` returns the default for a missing key). */
  def get(value: Any, default: org.apache.spark.sql.Row): org.apache.spark.sql.Row =
    get(value).collect().headOption.getOrElse(default)

  /** Multi-key lookup (`hadro[id, id...]`): the [[get]] point path for up
    * to [[Collection.MaxKeyPushdown]] distinct keys, with the same
    * fallbacks (plus: more keys than that) to the lazy
    * `toDF().filter(key IN values)` plan. Null keys match nothing. */
  def multiGet(values: Any*): DataFrame = {
    val k = requireKeyed("multiGet()")
    pointRead(k, values).getOrElse(toDF().filter(col(k).isin(values: _*)))
  }

  private def pointRead(k: String, values: Seq[Any]): Option[DataFrame] =
    graft.spark.HadroPointRead.read(spark, dir, k, values, Collection.MaxKeyPushdown)

  /** Containment probe (#14): a [[get]], so a point read when it applies. */
  def contains(value: Any): Boolean = !get(value).isEmpty

  /** Key enumeration (#15). */
  def ids(): DataFrame = {
    val k = keyField.getOrElse(throw new IllegalArgumentException(
      "ids() requires a keyed collection"))
    toDF().select(col(k))
  }

  /** Cardinality (#16). O(#segments) from manifest row counts when the
    * collection was never mutated; exact resolved count otherwise. */
  def count(): Long = {
    val m = manifest
    if (!m.mutated) m.segments.map(s => s.rows - s.dvDeletes).sum
    else toDF().count()
  }

  /** Predicate filter returning a queryable handle (#17). */
  def where(predicate: Column): DataFrame = toDF().filter(predicate)
  def where(sqlPredicate: String): DataFrame = toDF().filter(sqlPredicate)

  /** Index management façade (#19, `INTERFACE.md:32-38` — declared "NOT
    * IMPLEMENTED" in the reference). Single-column indexing is automatic:
    * every segment carries min/max/null stats for all orderable columns in
    * the manifest, consumed for segment skipping at scan planning; the key
    * column additionally gets a per-segment bloom sidecar. `add(name,
    * fields)` layers NAMED multi-field indexes on top: a bloom over the
    * canonical hash of the field tuple per segment, probed at planning when
    * a query pins every field with equality. */
  object indexes {
    /** Columns with stats coverage in at least one segment. */
    def list(): Seq[String] =
      manifest.segments.flatMap(_.stats.collect {
        case (colName, st) if st.min.isDefined => colName
      }).distinct.sorted

    /** Registered named composite indexes (name -> fields). */
    def named(): Map[String, Seq[String]] = manifest.indexes

    /** Per-segment stats as a DataFrame (column, segment, min, max, nulls). */
    def describe(): DataFrame = {
      val rows = manifest.segments.flatMap(s => s.stats.toSeq.map { case (c, st) =>
        (c, s.file, st.min.orNull, st.max.orNull, st.nullCount)
      })
      rows.toDF("column", "segment", "min", "max", "null_count")
    }

    /** Register a named multi-field index (`indexes.add(name, [fields])`,
      * INTERFACE.md:35) and build its per-segment bloom sidecars — one
      * executor task per existing segment (no driver-side data scan); new
      * segments carry the sidecar from birth. `indexType` accepts only
      * "bloom": equality tuples are what composite indexes answer here,
      * range queries already use the per-column manifest stats. */
    def add(name: String, fields: Seq[String], indexType: String = "bloom"): Unit = {
      require(name.matches("[A-Za-z0-9_-]+"),
        s"index name must be [A-Za-z0-9_-]+, got '$name'")
      require(indexType == "bloom", s"unsupported index type '$indexType'")
      val schema = CollectionMeta.readSchema(dir).get.schema
      fields.foreach(f => require(schema.fieldNames.contains(f),
        s"index field '$f' not in collection schema ${schema.simpleString}"))
      require(fields.nonEmpty, "an index needs at least one field")
      val ords = fields.map(schema.fieldIndex)
      val m = manifest
      // Distributed build: one task per segment, sidecar names deterministic
      // from (segment, name, buildId) so no results flow back to the driver.
      // The buildId makes THIS build's sidecar files unique: driver-side
      // bloom caches are keyed by file path, so a remove + re-add with
      // different fields must publish fresh names — probing a stale cached
      // bloom with new-field hashes would silently skip live segments.
      val buildId = java.lang.Long.toHexString(System.nanoTime())
      val pathStr = path
      val sc = spark.sparkContext
      sc.parallelize(m.segments.map(s => (s.file, s.nFields.getOrElse(-1))),
          math.max(1, m.segments.size))
        .foreach { case (segFile, nf) =>
          graft.format.IndexBuilder.buildSidecar(
            Paths.get(pathStr), segFile, schema, ords, name, buildId, nf)
        }
      val committed = CollectionMeta.commit(dir, cur => cur.copy(
        indexes = cur.indexes + (name -> fields),
        segments = cur.segments.map { s =>
          val fn = graft.format.SegmentWriter.indexSidecarName(s.file, name, buildId)
          // only reference sidecars that exist: segments committed after the
          // build get theirs on their next write/compaction
          if (Files.exists(dir.resolve(fn)))
            s.copy(indexBlooms = s.indexBlooms + (name -> fn))
          else s
        }))
      dropUnreferencedSidecars(name, committed)
    }

    /** Unregister a named index and delete its sidecars (INTERFACE.md:36). */
    def remove(name: String): Unit = {
      val m = CollectionMeta.commit(dir, cur => cur.copy(
        indexes = cur.indexes - name,
        segments = cur.segments.map(s =>
          s.copy(indexBlooms = s.indexBlooms - name))))
      dropUnreferencedSidecars(name, m)
    }

    /** Delete on-disk sidecars of index `name` that the committed manifest
      * no longer references (old builds after an add-over / the whole set
      * after a remove). Deletion by LISTING, not by recomputed names —
      * sidecar names embed a build id, so only the manifest knows which
      * file is live. */
    private def dropUnreferencedSidecars(name: String, committed: graft.meta.Manifest): Unit = {
      // Live = sidecars of EVERY registered index: names may contain
      // hyphens, so "<seg>.idx-a-b.bloom" is ambiguous between index "a-b"
      // and a build of index "a" — only manifest references disambiguate.
      // Liveness unions ALL retained manifests, not just the committed one:
      // time-travel reads (scanVersion/restoreVersion) still plan against
      // older versions, and deleting a sidecar they reference would silently
      // cost them index pruning and leave dangling indexBlooms entries.
      val live = (committed +: CollectionMeta.retainedManifests(dir))
        .flatMap(_.segments).flatMap(_.indexBlooms.values).toSet
      val re = ("""\.idx-""" + java.util.regex.Pattern.quote(name) +
        """(-[0-9a-f]+)?\.bloom$""").r
      CollectionMeta.listDir(dir)
        .map(_.getFileName.toString)
        .filter(f => re.findFirstIn(f).isDefined && !live(f))
        .foreach(f => Files.deleteIfExists(dir.resolve(f)))
    }

    /** Rewrite segments, recomputing all stats and index sidecars. */
    def rebuild(): Unit = compact()

    /** Rebuild ONE named index in place (`indexes.rebuild(name)`,
      * INTERFACE.md:38): re-runs the distributed per-segment sidecar build
      * with a fresh buildId and atomically swaps the manifest references —
      * NO data rewrite, one task per segment. The old build's sidecar
      * files are dropped once unreferenced (same ageout as add-over). */
    def rebuild(name: String): Unit = {
      val fields = manifest.indexes.getOrElse(name,
        throw new IllegalArgumentException(s"no index named '$name' " +
          s"(registered: ${manifest.indexes.keys.toSeq.sorted.mkString(", ")})"))
      add(name, fields)
    }
  }

  /** CDC merge — apply a changeset of upserts AND deletes in ONE atomic
    * commit (the MERGE INTO / apply-changes shape): rows where
    * `deleteWhen` is true become tombstones for their key, every other
    * row upserts; readers see the whole changeset or none of it. Backed
    * by a per-record tombstone flag in the write path
    * (`hadro.deleteCol`), so a single distributed write job carries the
    * mixed batch — no per-kind staging, no second commit to race. */
  def merge(changes: DataFrame, deleteWhen: Column): Unit = {
    val k = keyField.getOrElse(throw new IllegalArgumentException(
      "merge() requires a keyed collection"))
    // The key MUST be present in the changeset: the writer projection
    // null-fills missing stored columns, so a changeset without (or with a
    // misspelled) key column would collapse every row onto key NULL —
    // silent last-write-wins corruption when the key field is nullable.
    require(changes.columns.contains(k),
      s"merge() changeset must contain the key column '$k'; got " +
        s"[${changes.columns.mkString(", ")}]")
    // The flag is computed BEFORE projection so deleteWhen may reference
    // any changes column; only stored-schema columns + the flag are written.
    val stored = CollectionMeta.readSchema(dir).get.schema.fieldNames.toSet
    val dataCols = changes.columns.filter(stored).map(col).toSeq
    changes.withColumn("__hadro_delete", deleteWhen)
      .select(dataCols :+ col("__hadro_delete"): _*)
      .write.format("hadro").mode("append")
      .option("hadro.upsert", "true")
      .option("hadro.deleteCol", "__hadro_delete")
      .save(path)
  }

  /** Batch transaction (#20, `INTERFACE.md:40-43`): every add/set staged in
    * the body commits as ONE manifest version — readers see all of it or
    * none of it. This is exactly the all-or-nothing the reference declares
    * (`with hadro.transaction() as batch: batch.add(...)`), realized by
    * Spark's job-commit protocol: staged frames are unioned and written as
    * a single batch whose segments publish atomically.
    */
  def transaction(body: TransactionBatch => Unit): Unit = {
    val batch = new TransactionBatch
    body(batch)
    val frames = batch.staged
    if (frames.nonEmpty) {
      val unioned = frames.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
      unioned.write.format("hadro").mode("append")
        .option("hadro.upsert", batch.hasUpserts.toString)
        .option("hadro.key", keyField.orNull)
        .save(path)
    }
  }

  /** Additive schema evolution: append a NULLABLE column to the collection
    * schema without touching data. Existing segments keep their write-time
    * width (recorded per segment in the manifest); readers null-fill the
    * new column for them, and new writes carry it. Only additive, nullable,
    * top-level evolution is supported — anything else needs a rewrite
    * (compact() re-materializes every row at full width).
    *
    * `default` (a constant SQL expression, e.g. `"5"`, `"'unknown'"`,
    * `"CAST(2.5 AS DOUBLE)"`) gives the column a DEFAULT: rows written
    * before the column existed READ BACK as the at-ALTER-time folded
    * constant instead of null (metadata-only back-fill — no data touched),
    * and SQL INSERTs that omit the column get it filled by the analyzer.
    * The frozen literal lives in the field's metadata under Spark's own
    * EXISTS_DEFAULT/CURRENT_DEFAULT keys. Atomic types only — array/map/
    * struct defaults would defeat the vectorized reader's constant fill. */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType,
      default: Option[String] = None): Unit = {
    val meta = CollectionMeta.readSchema(dir).getOrElse(throw new IllegalArgumentException(
      s"addColumn requires an existing collection at $path"))
    require(!name.startsWith(CollectionMeta.DroppedPrefix) &&
      !name.startsWith("_hadro_"), s"column name '$name' is reserved")
    require(!meta.schema.fieldNames.contains(name),
      s"column '$name' already exists in ${meta.schema.simpleString}")
    val metadata = default match {
      case None => org.apache.spark.sql.types.Metadata.empty
      case Some(txt) =>
        dataType match {
          case _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType |
               _: org.apache.spark.sql.types.StructType =>
            throw new IllegalArgumentException(
              s"hadro: DEFAULT is supported for atomic column types only, " +
                s"not ${dataType.simpleString}")
          case _ =>
        }
        val lit = CollectionMeta.foldDefault(txt, dataType) match {
          case Left(err) => throw new IllegalArgumentException(s"hadro: $err")
          case Right(l) => l
        }
        // Freeze the FOLDED literal (Spark's EXISTS_DEFAULT contract): a
        // non-deterministic-looking text like CURRENT_DATE must not drift
        // between the alter and later reads.
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString(CollectionMeta.CurrentDefaultKey, txt)
          .putString(CollectionMeta.ExistsDefaultKey, lit.sql)
          .build()
    }
    CollectionMeta.writeSchema(dir,
      org.apache.spark.sql.types.StructType(meta.schema.fields :+
        org.apache.spark.sql.types.StructField(name, dataType, nullable = true,
          metadata = metadata)),
      meta.keyField, meta.bucketBy, meta.numBuckets, meta.compress,
      meta.partitionBy, meta.partitionTransform,
      meta.priorPartitionTransforms)
  }

  /** Column RENAME: pure metadata — record decode is positional, so the
    * stored bytes never reference names. The schema file takes the new
    * name, and ONE metadata-only manifest commit remaps every name-keyed
    * reference (per-segment stats and key-bloom column, declared index
    * field lists, the sort/bucket declarations), so stats pruning keeps
    * working across the rename with zero data movement. Manifest first,
    * then schema: between the two, lookups under the OLD name miss stats
    * and fall back to scanning — conservative, never wrong. */
  def renameColumn(oldName: String, newName: String): Unit = {
    val meta = CollectionMeta.readSchema(dir).getOrElse(throw new IllegalArgumentException(
      s"renameColumn requires an existing collection at $path"))
    val ord = meta.schema.fieldNames.indexOf(oldName)
    require(ord >= 0 && !CollectionMeta.isDropped(meta.schema.fields(ord)),
      s"no column '$oldName' in ${CollectionMeta.logicalSchema(meta.schema).simpleString}")
    require(!newName.startsWith(CollectionMeta.DroppedPrefix) &&
      !newName.startsWith("_hadro_"), s"column name '$newName' is reserved")
    require(!CollectionMeta.logicalSchema(meta.schema).fieldNames.contains(newName),
      s"column '$newName' already exists")
    def ren(c: String): String = if (c == oldName) newName else c
    def renList(s: String): String = s.split(",").map(ren).mkString(",")
    CollectionMeta.commit(dir, cur => cur.copy(
      segments = cur.segments.map(s => s.copy(
        stats = s.stats.map { case (k, v) => (ren(k), v) },
        bloomCol = s.bloomCol.map(ren),
        sortCols = s.sortCols.map(renList))),
      indexes = cur.indexes.map { case (n, fs) => n -> fs.map(ren) },
      bucketBy = cur.bucketBy.map(renList),
      sortedBy = cur.sortedBy.map(ren)))
    CollectionMeta.writeSchema(dir,
      org.apache.spark.sql.types.StructType(meta.schema.fields.updated(ord,
        meta.schema.fields(ord).copy(name = newName))),
      meta.keyField.map(ren), meta.bucketBy.map(renList), meta.numBuckets,
      meta.compress, meta.partitionBy.map(ren), meta.partitionTransform,
      meta.priorPartitionTransforms)
    // the declared write order follows its column(s)
    CollectionMeta.readWriteOrder(dir)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.contains(oldName))
      .foreach(cs => CollectionMeta.writeWriteOrder(dir,
        Some(cs.map(ren).mkString(","))))
  }

  /** Column type WIDENING: metadata-only `ALTER COLUMN ... TYPE` for the
    * safe promotions (int→long, float→double, decimal precision/scale-up
    * that loses no digits). No byte is rewritten: one manifest commit
    * records, per live segment, the type the column's bytes were written
    * with (`SegmentInfo.writeTypes`); readers decode each segment at its
    * write-time type and widen values on the fly, while post-ALTER
    * appends encode the new type directly. Narrowing (or any conversion
    * that can lose values) is rejected. The key column, bucket columns,
    * and indexed columns cannot be widened — their persisted hashes
    * (bloom/key-offset/bucket tags) are computed from the typed value and
    * would go silently stale. Manifest first, then schema: between the
    * two, readers see old types everywhere — consistent, never wrong. */
  def widenColumn(name: String, newType: org.apache.spark.sql.types.DataType): Unit = {
    val meta = CollectionMeta.readSchema(dir).getOrElse(throw new IllegalArgumentException(
      s"widenColumn requires an existing collection at $path"))
    val ord = meta.schema.fieldNames.indexOf(name)
    require(ord >= 0 && !CollectionMeta.isDropped(meta.schema.fields(ord)),
      s"no column '$name' in ${CollectionMeta.logicalSchema(meta.schema).simpleString}")
    val oldType = meta.schema.fields(ord).dataType
    if (oldType == newType) return
    require(Collection.safeWidening(oldType, newType),
      s"unsafe type change $oldType -> $newType for '$name': only int->long, " +
        "float->double, and lossless decimal widening evolve in place; " +
        "anything else needs an explicit rewrite")
    require(!meta.keyField.contains(name),
      s"cannot widen the key column '$name' — persisted key hashes are type-sensitive")
    require(!meta.bucketBy.exists(_.split(",").contains(name)),
      s"cannot widen bucket column '$name' — bucket tags hash the typed value")
    val m0 = CollectionMeta.currentManifest(dir)
    m0.indexes.collectFirst { case (n, fs) if fs.contains(name) => n }
      .foreach(n => throw new IllegalArgumentException(
        s"column '$name' is indexed by '$n' — removeIndex first"))
    val ddl = oldType.sql
    CollectionMeta.commit(dir, cur => cur.copy(
      segments = cur.segments.map { s =>
        // Only segments whose write-time width REACHED the column carry
        // its bytes; record the original type once (a second widening
        // keeps the FIRST write-time type — that is what the bytes are).
        val width = s.nFields.getOrElse(meta.schema.length)
        if (ord < width && !s.writeTypes.contains(ord.toString))
          s.copy(writeTypes = s.writeTypes + (ord.toString -> ddl))
        else s
      }))
    CollectionMeta.writeSchema(dir,
      org.apache.spark.sql.types.StructType(meta.schema.fields.updated(ord,
        meta.schema.fields(ord).copy(dataType = newType))),
      meta.keyField, meta.bucketBy, meta.numBuckets, meta.compress,
      meta.partitionBy, meta.partitionTransform,
      meta.priorPartitionTransforms)
  }

  /** Column DROP: metadata-only — the field stays in the PHYSICAL schema
    * under a reserved invisible name (positional decode must know its
    * position and type forever to skip its bytes) and disappears from
    * every reported schema. New writes null-fill the slot (one bitmap bit
    * per row); re-adding the same name later creates a FRESH physical
    * field, so old segments null-fill it and dropped values never
    * resurrect. The key, bucket columns, and indexed columns cannot be
    * dropped (remove the index first); a sort declaration on the column
    * is simply cleared. Stats entries for the column are removed in the
    * same metadata commit — that removal is what guarantees a later
    * same-name column never matches stale statistics. */
  def dropColumn(name: String): Unit = {
    val meta = CollectionMeta.readSchema(dir).getOrElse(throw new IllegalArgumentException(
      s"dropColumn requires an existing collection at $path"))
    val ord = meta.schema.fieldNames.indexOf(name)
    require(ord >= 0 && !CollectionMeta.isDropped(meta.schema.fields(ord)),
      s"no column '$name' in ${CollectionMeta.logicalSchema(meta.schema).simpleString}")
    require(CollectionMeta.logicalSchema(meta.schema).length > 1,
      "cannot drop the last column")
    require(!meta.keyField.contains(name), s"cannot drop the key column '$name'")
    require(!meta.bucketBy.exists(_.split(",").contains(name)),
      s"cannot drop bucket column '$name'")
    require(!meta.partitionBy.contains(name),
      s"cannot drop partition column '$name'")
    val manifest = CollectionMeta.currentManifest(dir)
    manifest.indexes.collectFirst { case (n, fs) if fs.contains(name) => n }
      .foreach(n => throw new IllegalArgumentException(
        s"column '$name' is indexed by '$n' — removeIndex first"))
    CollectionMeta.commit(dir, cur => cur.copy(
      segments = cur.segments.map { s =>
        val cleared = s.copy(stats = s.stats - name)
        // composite sort bounds referencing the dropped column clear
        if (s.sortCols.exists(_.split(",").contains(name)))
          cleared.copy(sortCols = None, sortLo = Nil, sortHi = Nil)
        else cleared
      },
      sortedBy = cur.sortedBy.filterNot(_ == name)))
    CollectionMeta.writeSchema(dir,
      org.apache.spark.sql.types.StructType(meta.schema.fields.updated(ord,
        org.apache.spark.sql.types.StructField(
          s"${CollectionMeta.DroppedPrefix}$ord",
          meta.schema.fields(ord).dataType, nullable = true))),
      meta.keyField, meta.bucketBy, meta.numBuckets, meta.compress,
      meta.partitionBy, meta.partitionTransform,
      meta.priorPartitionTransforms)
    // a declared write order involving the dropped column clears (leaving
    // it would fail every later INSERT's sort resolution)
    CollectionMeta.readWriteOrder(dir)
      .filter(_.split(",").map(_.trim).contains(name))
      .foreach(_ => CollectionMeta.writeWriteOrder(dir, None))
  }

  /** Rewind the collection to a retained version (Delta RESTORE / Iceberg
    * rollback_to_snapshot analog): metadata-only regardless of data size —
    * the target version's full manifest state (segments, deletion vectors,
    * indexes, layout declarations) is committed as the new current state;
    * segments are immutable, so the bytes are already on disk. Fails fast
    * if the version was GC'd or crosses a compaction. Returns the newly
    * committed version.
    *
    * Semantics at the new head:
    *   - rows appended/deleted/vectored after `v` disappear (and deletes
    *     after `v` resurrect); layout metadata (`sortedBy`/`bucketBy`)
    *     reverts WITH the segments, so scans never report an ordering or
    *     clustering the restored files don't actually have;
    *   - `writeTypes` recorded by LATER type-widening alters are merged
    *     forward per segment: they describe the immutable bytes on disk
    *     (which the current schema still decodes through), not state being
    *     rolled back — without the merge a post-widen restore would decode
    *     narrow bytes at the wide type;
    *   - `streamEpochs` keeps the CURRENT map so a sink epoch can never
    *     re-commit twice, and `generation` bumps: a rewind is a log
    *     discontinuity tailing streams must detect exactly like a truncate;
    *   - files only the undone suffix referenced join the deferred-GC dead
    *     list — space returns at the next [[vacuum]]/rewrite, while
    *     in-flight readers of the old head keep streaming their immutable
    *     segments (reclaim kills forward time travel, same contract as
    *     vacuum after truncate). */
  def restoreVersion(v: Long): Long = {
    val target = CollectionMeta.manifestAt(dir, v)
    val committed = CollectionMeta.commit(dir, cur => {
      if (cur.version == v) cur // already there: decline, publish nothing
      else {
        val laterTypes: Map[String, Map[String, String]] =
          cur.segments.map(s => s.file -> s.writeTypes).toMap
        target.copy(
          segments = target.segments.map(s =>
            s.copy(writeTypes = laterTypes.getOrElse(s.file, Map.empty) ++ s.writeTypes)),
          streamEpochs = cur.streamEpochs,
          generation = cur.generation + 1)
      }
    })
    val m = CollectionMeta.currentManifest(dir)
    val live = m.segments.flatMap(_.allFiles).toSet
    CollectionMeta.deferredGc(dir, live)
    committed.version
  }

  /** Commit history over the retained manifest versions (newest first) —
    * the audit view a lakehouse user expects (`DESCRIBE HISTORY` analog):
    * per version, live segment/row/byte totals, the mutated flag, the log
    * generation, and what the commit did relative to its parent (truncate/
    * compact when the generation bumped, index (de)registration, plain
    * write otherwise; "unknown" when the parent manifest was GC'd).
    * Metadata only — no data files touched. Retention = the manifest GC
    * window (KeepVersions; compaction drops the versions it invalidated). */
  def history(): DataFrame = {
    val ms = CollectionMeta.retainedManifests(dir).sortBy(-_.version)
    val rows = ms.map { m =>
      val parent = ms.find(_.version == m.version - 1)
      val op = parent match {
        case Some(p) if m.generation != p.generation => "truncate"
        case Some(p) if m.indexes != p.indexes => "index"
        case Some(_) => "write"
        case None => "unknown" // parent GC'd
      }
      (m.version, op, m.segments.size.toLong,
        m.segments.map(s => s.rows - s.tombstones - s.dvDeletes).sum,
        m.segments.map(_.bytes).sum, m.mutated, m.generation)
    }
    rows.toDF("version", "operation", "n_segments", "n_rows", "n_bytes",
      "mutated", "generation")
  }

  /** PARTITION RETENTION: drop every segment whose partition tag orders
    * strictly before `before` — "expire events older than day N" as ONE
    * metadata-only manifest commit, zero data movement. The 100 TB
    * event-log retention primitive: a DELETE would copy-on-write or
    * dv-mark terabytes the layout already isolates; this unlinks whole
    * value-partitions from the manifest and lets the normal deferred GC /
    * vacuum reclaim the files (older manifests and pinned tags keep
    * reading them until then — time travel across the drop works).
    *
    * For the time transforms (and identity over numeric/date columns)
    * tags are epoch ordinals, so the cutoff MUST parse as an integer —
    * a non-numeric cutoff (a date string, say) errors instead of
    * falling back to string order, which would silently compare
    * "20239" < "2024-01-15" and mass-drop nearly everything. Identity
    * over STRING columns compares the segment's EXACT max stats bound
    * against the cutoff (never the tag — long values truncate in the
    * tag, and a truncated tag's order can disagree with the value's);
    * segments without an exact bound are conservatively kept. Null-tag
    * segments (`__null__`) never drop. Restricted to PURE-APPEND
    * collections (`!mutated`): under upserts/deletes a dropped segment
    * could carry the tombstone or newest version of a key whose other
    * rows live elsewhere, silently resurrecting older state. Returns
    * the number of segments dropped. */
  /** Forward-only partition-spec evolution: re-declare the time transform
    * over the SAME source column at a FINER granularity (years → months →
    * days → hours), for when data rates outgrow the original spec.
    * Metadata-only and instant: segments written under the old spec keep
    * their coarser tags — scan pruning is stats-based so it never cared,
    * transform SPJ simply declines to report until they're compacted
    * under the new spec, and [[dropPartitions]] compares exact stats
    * bounds so retention stays correct across the respec boundary — while
    * every NEW write routes one-segment-per-new-transform-value. The old
    * transform is appended to the spec history
    * ([[graft.meta.CollectionMeta.SchemaMeta.priorPartitionTransforms]]),
    * surfaced by the `detail` metadata table. Coarsening is rejected:
    * segments already routed finer than the declared spec would be
    * indistinguishable from fragmentation, and every system that supports
    * respec (Iceberg's partition evolution) makes it forward-only. */
  def setPartitionTransform(transform: String): Unit = {
    val meta = CollectionMeta.readSchema(dir).getOrElse(
      throw new IllegalStateException(s"hadro: no collection at $path"))
    require(meta.partitionBy.isDefined && meta.partitionTransform.isDefined,
      "hadro: setPartitionTransform requires declared value partitioning " +
        "(PARTITIONED BY at CREATE); adding partitioning to an " +
        "unpartitioned collection is not supported")
    val cur = meta.partitionTransform.get
    val order = Seq("years", "months", "days", "hours")
    require(order.contains(cur),
      s"hadro: identity partition specs are fixed at CREATE (have '$cur')")
    require(order.contains(transform),
      s"hadro: unknown time transform '$transform' " +
        s"(supported: ${order.mkString(", ")})")
    require(order.indexOf(transform) > order.indexOf(cur),
      s"hadro: partition-spec evolution is forward-only (finer), " +
        s"cannot respec $cur(${meta.partitionBy.get}) to coarser-or-equal " +
        s"$transform(${meta.partitionBy.get})")
    // hours demands sub-day source resolution — validate before persisting
    graft.spark.HadroPartition.validate(meta.schema, meta.partitionBy.get, transform)
    CollectionMeta.writeSchema(dir, meta.schema, meta.keyField,
      meta.bucketBy, meta.numBuckets, meta.compress,
      meta.partitionBy, Some(transform),
      meta.priorPartitionTransforms :+ cur)
  }

  def dropPartitions(before: String): Int = {
    val meta = CollectionMeta.readSchema(dir).getOrElse(
      throw new IllegalStateException(s"hadro: no collection at $path"))
    require(meta.partitionBy.isDefined && meta.partitionTransform.isDefined,
      "hadro: dropPartitions requires a declared partition transform " +
        "(CREATE TABLE ... PARTITIONED BY (days(ts)) / identity)")
    val pCol = meta.partitionBy.get
    val pColType = meta.schema.fields.find(_.name == pCol).map(_.dataType)
      .getOrElse(throw new IllegalStateException(
        s"hadro: partition column '$pCol' missing from schema"))
    val stringIdentity = meta.partitionTransform.contains("identity") &&
      pColType == org.apache.spark.sql.types.StringType
    val cutoffNum: Option[Long] = before.toLongOption
    require(stringIdentity || cutoffNum.isDefined,
      s"hadro: dropPartitions cutoff for ${meta.partitionTransform.get}" +
        s"($pCol) must be the transform's integer ordinal (e.g. epoch " +
        s"days for days()), got '$before' — a lexicographic fallback " +
        "would mis-order numeric tags against it")
    // The drop rule compares each segment's EXACT source-column stats
    // bound against the cutoff ordinal's lower boundary under the CURRENT
    // transform — never the tag. Tags truncate (identity strings) and can
    // predate a partition-spec respec (a days-tagged segment in an
    // hours-respec'd collection); stats are the same source of truth the
    // scan-side skipper prunes with, so the drop boundary and filter
    // semantics can never disagree.
    val cutoffBound: Option[Long] = cutoffNum.map(n =>
      graft.spark.HadroPartition.lowerBoundOf(
        pColType, meta.partitionTransform.get, n))
    def shouldDrop(s: graft.meta.SegmentInfo): Boolean =
      s.partition.exists(t => t != "__null__") && {
        if (stringIdentity)
          // exact stats bound compared in UTF8String (UTF-8 byte) order —
          // the SAME ordering the stats were collected under; Java String
          // '<' (UTF-16 code-unit order) disagrees for supplementary-
          // plane characters
          s.stats.get(pCol).exists(st => st.exact && st.nullCount == 0L &&
            st.max.exists(m =>
              org.apache.spark.unsafe.types.UTF8String.fromString(m)
                .compareTo(org.apache.spark.unsafe.types.UTF8String
                  .fromString(before)) < 0))
        else
          s.stats.get(pCol).exists(st => st.exact && st.nullCount == 0L &&
            st.max.flatMap(_.toLongOption).exists(_ < cutoffBound.get))
      }
    var dropped = 0
    CollectionMeta.commit(dir, cur => {
      require(!cur.mutated,
        "hadro: dropPartitions supports pure-append collections only — " +
          "an upserted/deleted collection could lose a key's newest " +
          "version or its tombstone with the dropped segment")
      val (dead, live) = cur.segments.partition(shouldDrop)
      dropped = dead.size
      if (dead.isEmpty) cur
      // pin the ordinal watermark: dropping the max-ordinal segment must
      // not let nextOrdinal regress, or the next append would reuse
      // ordinals a tailing stream already consumed (lost rows)
      else cur.copy(segments = live,
        ordinalFloor = math.max(cur.ordinalFloor, cur.nextOrdinal))
    })
    if (dropped > 0) {
      val live = manifest.segments.flatMap(_.allFiles).toSet
      CollectionMeta.deferredGc(dir, live)
    }
    dropped
  }

  /** Exact-tag partition drop — the engine behind SQL
    * `ALTER TABLE ... DROP PARTITION (...)` / `TRUNCATE ... PARTITION`:
    * one atomic metadata commit unlinks every segment whose partition tag
    * is in `tags`, the deferred-GC ledger records the files dead, and the
    * normal vacuum reclaims them a generation later (older manifests and
    * pinned version tags keep reading them until then — time travel
    * across the drop works). Unlike the cutoff-based [[dropPartitions]]
    * this matches tags AS ROUTED: after a partition-spec respec, `SHOW
    * PARTITIONS` lists both old coarse and new fine tags, and dropping a
    * listed tag removes exactly that routed unit. Restricted to
    * PURE-APPEND collections for the same reason as [[dropPartitions]]
    * (a dropped segment could carry a key's newest version or its
    * tombstone). Returns the number of segments dropped. */
  def dropPartitionTags(tags: Set[String]): Int = {
    require(tags.nonEmpty, "hadro: dropPartitionTags needs at least one tag")
    val meta = CollectionMeta.readSchema(dir).getOrElse(
      throw new IllegalStateException(s"hadro: no collection at $path"))
    require(meta.partitionBy.isDefined,
      "hadro: dropPartitionTags requires declared value partitioning")
    var dropped = 0
    CollectionMeta.commit(dir, cur => {
      require(!cur.mutated,
        "hadro: dropPartitionTags supports pure-append collections only — " +
          "an upserted/deleted collection could lose a key's newest " +
          "version or its tombstone with the dropped segment")
      val (dead, live) = cur.segments.partition(_.partition.exists(tags))
      dropped = dead.size
      if (dead.isEmpty) cur
      // pin the ordinal watermark: dropping the max-ordinal segment must
      // not let nextOrdinal regress (tailing streams, see dropPartitions)
      else cur.copy(segments = live,
        ordinalFloor = math.max(cur.ordinalFloor, cur.nextOrdinal))
    })
    if (dropped > 0) {
      val live = manifest.segments.flatMap(_.allFiles).toSet
      CollectionMeta.deferredGc(dir, live)
    }
    dropped
  }

  /** PARTITION-SCOPED compaction: rewrite only the segments of the given
    * partition `tags` (every fragmented partition when empty) — each
    * partition one atomic replace commit, one output segment. The 100 TB
    * maintenance shape: a streamed hot day fragments into one segment
    * per epoch, and fixing it must cost O(that day), not [[compact]]'s
    * rewrite-the-world; untouched partitions' segments are carried by
    * reference. Pure-append collections only (`!mutated`): with no LWW,
    * tombstones, or deletion vectors, cross-segment record order has no
    * semantic weight, so merging a partition's (possibly non-contiguous)
    * segments is unconditionally safe — the keyed/mutated cases keep
    * [[compactSmall]]'s contiguous-run discipline instead. Partial
    * progress is safe progress (the [[compactSmall]] contract): a
    * conflict on a later partition leaves earlier commits standing;
    * returns how many partitions were rewritten. */
  def compactPartitions(tags: Seq[String] = Nil): Int = {
    val meta = CollectionMeta.readSchema(dir).getOrElse(
      throw new IllegalStateException(s"hadro: no collection at $path"))
    require(meta.partitionBy.isDefined && meta.partitionTransform.isDefined,
      "hadro: compactPartitions requires a declared partition transform")
    val m0 = manifest
    require(!m0.mutated,
      "hadro: compactPartitions supports pure-append collections only — " +
        "use compact() or compactSmall() for keyed/mutated collections")
    val byTag = m0.segments.filter(_.partition.isDefined)
      .groupBy(_.partition.get)
    // an unknown requested tag is an error, not a silent zero — callers
    // asking for a partition that does not exist should hear about it
    val unknown = tags.filterNot(byTag.contains)
    require(unknown.isEmpty,
      s"hadro: no such partition(s) ${unknown.mkString(", ")} " +
        s"(live: ${byTag.keys.toSeq.sorted.mkString(", ")})")
    // Default sweep rewrites only FRAGMENTED partitions (>= 2 segments —
    // merging one segment with itself is a no-op). EXPLICITLY requested
    // tags always rewrite, single-segment ones included: the rewrite
    // re-routes rows under the CURRENT declared spec, which is exactly
    // the migration step after a partition-spec respec (a day-tagged
    // segment compacted under an hours spec becomes per-hour segments).
    val targets =
      if (tags.nonEmpty) byTag.view.filterKeys(tags.contains).toMap
      else byTag.filter(_._2.size >= 2)
    // the up-front !mutated check is only a fast fail: a FIRST concurrent
    // upsert flips `mutated` without a generation bump, so the atomic
    // guard must live inside the replace commit
    targets.toSeq.sortBy(_._1).map(_._2).iterator
      .takeWhile(replaceSegments(m0, _, requireUnmutated = true)).size
  }

  /** Reclaim space on demand: physically delete the files recorded dead by
    * earlier truncates/compactions (the deferred generation) instead of
    * waiting for the next rewrite to purge them. Same safety contract as
    * the deferred-GC path — only files no current manifest references. */
  def vacuum(): Unit = {
    val m = manifest
    val live = m.segments.flatMap(_.allFiles).toSet
    CollectionMeta.purgeDeferred(dir, live)
    // Full on-demand sweep of orphaned sidecars: files no RETAINED
    // manifest references (the per-commit ageout sweep handles the steady
    // state; this catches anything left behind by older layouts/crashes —
    // including .dv bitmaps from a dv commit that died between writing
    // its sidecars and publishing the manifest). AGE-GUARDED: an
    // in-flight index build / dv delete writes its sidecars BEFORE its
    // manifest commit, so only files comfortably older than any plausible
    // in-flight statement are swept.
    val retained = CollectionMeta.retainedManifests(dir).flatMap(_.segments)
    val sidecarLive = (retained.flatMap(_.indexBlooms.values) ++
      retained.flatMap(_.deleteVector)).toSet
    val cutoff = System.currentTimeMillis() - Collection.OrphanSweepAgeMs
    CollectionMeta.listDir(dir)
      .filter { p =>
        val f = p.getFileName.toString
        val sweepable = (f.contains(".idx-") && f.endsWith(".bloom")) ||
          f.endsWith(".dv")
        sweepable && !sidecarLive(f) &&
          (try Files.getLastModifiedTime(p).toMillis < cutoff
           catch { case _: Exception => false })
      }
      .foreach(p => Files.deleteIfExists(p))
  }

  /** ZERO-COPY snapshot clone (Delta SHALLOW CLONE analog, hard-link
    * flavor): materialize the CURRENT version as an independent
    * collection at `dstPath` without rewriting a byte of data — segment
    * files and sidecars are immutable, so the clone hard-links them
    * (falling back to copy when the filesystem refuses, e.g. across
    * devices) and commits a fresh manifest listing the same segments.
    * After the clone the two collections share storage but diverge
    * freely: a delete/compaction in one unlinks ITS directory entry;
    * the inode lives until every clone drops it. The clone starts a
    * fresh history (version 1, generation 0, no stream epochs) — it is
    * a new table whose contents equal the source snapshot, the instant
    * dev/test-copy primitive at any scale. The metadata slots declared
    * to ride a clone (constraints, write order, tokenizer vocab, index
    * params) are copied so index collections stay queryable through
    * their clones. */
  def cloneTo(dstPath: String): Collection = {
    val m = manifest
    val dst = java.nio.file.Paths.get(dstPath)
    require(CollectionMeta.readSchema(dst).isEmpty,
      s"hadro: clone destination $dstPath already exists")
    Files.createDirectories(dst)
    val meta = CollectionMeta.readSchema(dir).getOrElse(
      throw new IllegalStateException(s"hadro: no collection at $dir"))
    CollectionMeta.writeSchema(dst, meta.schema, meta.keyField,
      meta.bucketBy, meta.numBuckets, meta.compress,
      meta.partitionBy, meta.partitionTransform,
      meta.priorPartitionTransforms)
    val files = m.segments.flatMap(_.allFiles)
    files.foreach { f =>
      val srcF = dir.resolve(f)
      val dstF = dst.resolve(f)
      graft.meta.FileIO.impl.linkOrCopy(srcF, dstF)
    }
    // declarative config and index sidecars ride along (constraints,
    // vocab, sq8 params…) — but NOT refs, branches or the consumer
    // registry: they name versions and cursors of the source history,
    // and the clone starts a fresh one where those don't exist
    CollectionMeta.cloneSlots(dir, dst)
    CollectionMeta.commit(dst, _ =>
      m.copy(streamEpochs = Map.empty, generation = 0L))
    // Branch bookkeeping for write-audit-publish: remember which source
    // VERSION this clone branched from, so publishFrom can detect that
    // the source advanced underneath the branch (optimistic concurrency —
    // the Iceberg fast-forward refusal) instead of silently replacing
    // concurrent commits.
    CollectionMeta.writeCloneOrigin(dst, dir, m.version)
    Collection(spark, dstPath)
  }

  /** WRITE-AUDIT-PUBLISH: atomically replace THIS collection's contents
    * with the current state of a staged collection (typically a
    * [[cloneTo]] branch the pipeline wrote and audited). The staged
    * segments hard-link into this directory (zero-copy; UUID names never
    * collide), and ONE commit swaps the manifest — readers see the old or
    * the new state, never a mix, history stays rollback-able
    * ([[restoreVersion]] / tags), and the replaced files go through the
    * normal deferred GC. Requires an identical stored schema (publish is
    * a data swap, not an evolution vehicle). Generation bumps: a publish
    * is a log discontinuity tailing streams must detect, exactly like a
    * truncate. Returns the committed version. The 100 TB pattern: stage =
    * zero-copy clone, pipeline writes + quality audits run against stage,
    * publish is one metadata commit — bad batches never touch prod. */
  def publishFrom(stagedPath: String, force: Boolean = false): Long = {
    val staged = java.nio.file.Paths.get(stagedPath)
    val stagedMeta = CollectionMeta.readSchema(staged).getOrElse(
      throw new IllegalArgumentException(s"hadro: no collection at $stagedPath"))
    // Optimistic concurrency (the Iceberg fast-forward refusal): a clone
    // records the source version it branched from; if the TARGET advanced
    // past that base, commits landed that the swap would silently replace
    // — refuse unless forced. A successful publish fast-forwards the
    // branch base, so re-publishing the same stage stays allowed.
    if (!force) CollectionMeta.readCloneOrigin(staged).foreach {
      case (osrc, base) if osrc == dir.toAbsolutePath.toString =>
        val cur = CollectionMeta.currentManifest(dir).version
        require(cur == base,
          s"hadro: publish refused — target advanced (version $base at " +
            s"branch time, now $cur); commits would be silently replaced. " +
            s"Re-stage from the current state, or publishFrom(force = true) " +
            s"to replace anyway")
      case _ => ()
    }
    val targetMeta = CollectionMeta.readSchema(dir).getOrElse(
      throw new IllegalStateException(s"hadro: no collection at $path"))
    require(stagedMeta.schema == targetMeta.schema,
      s"hadro: publish requires identical schemas — staged " +
        s"${stagedMeta.schema.simpleString} vs target ${targetMeta.schema.simpleString}")
    // Physical-layout metadata must agree too: the target's schema.json
    // drives writer-side bucket routing and compression for FUTURE
    // appends, while the published manifest declares the layout of the
    // swapped-in segments. A stage not cloned from the target could
    // otherwise leave schema.json (say, unbucketed) disagreeing with a
    // manifest claiming bucketBy — and the next append would write
    // unbucketed/uncompressed segments under that manifest.
    require(stagedMeta.bucketBy == targetMeta.bucketBy &&
        stagedMeta.numBuckets == targetMeta.numBuckets,
      s"hadro: publish requires matching bucketing — staged " +
        s"${stagedMeta.bucketBy}/${stagedMeta.numBuckets} vs target " +
        s"${targetMeta.bucketBy}/${targetMeta.numBuckets}")
    require(stagedMeta.compress == targetMeta.compress,
      s"hadro: publish requires matching compression — staged " +
        s"${stagedMeta.compress} vs target ${targetMeta.compress}")
    require(stagedMeta.partitionBy == targetMeta.partitionBy &&
        stagedMeta.partitionTransform == targetMeta.partitionTransform,
      s"hadro: publish requires matching partitioning — staged " +
        s"${stagedMeta.partitionTransform}(${stagedMeta.partitionBy}) vs " +
        s"target ${targetMeta.partitionTransform}(${targetMeta.partitionBy})")
    // The target's CHECK constraints gate the publish too: a stage built
    // without them (or whose constraints drifted) must not smuggle
    // violating rows past enforcement. One audit scan, CHECK semantics.
    val targetConstraints = CollectionMeta.readConstraints(dir).toSeq.sortBy(_._1)
    if (targetConstraints.nonEmpty) {
      import org.apache.spark.sql.functions.{expr => fexpr}
      val stagedData = Collection(spark, stagedPath).toDF()
      // ONE pass over the staged data: evaluate every violation flag per
      // row, keep the first row violating anything, name its constraints
      val flags = targetConstraints.map { case (n, text) =>
        (fexpr(text) <=> lit(false)).as(n)
      }
      val firstBad = stagedData.select(flags: _*)
        .filter(targetConstraints.map(c => col(c._1)).reduce(_ || _))
        .limit(1).collect().headOption
      firstBad.foreach { row =>
        val bad = targetConstraints.zipWithIndex
          .collect { case ((n, text), i) if row.getBoolean(i) => s"'$n' ($text)" }
        throw new IllegalArgumentException(
          s"hadro: publish refused — staged rows violate the target's " +
            s"CHECK constraint(s) ${bad.mkString(", ")}")
      }
    }
    val sm = CollectionMeta.currentManifest(staged)
    sm.segments.flatMap(_.allFiles)
      .foreach { f =>
        val dstF = dir.resolve(f)
        if (!Files.exists(dstF)) {
          val srcF = staged.resolve(f)
          graft.meta.FileIO.impl.linkOrCopy(srcF, dstF)
        }
      }
    val committed = CollectionMeta.commit(dir, cur => cur.copy(
      segments = sm.segments,
      mutated = sm.mutated,
      indexes = sm.indexes,
      bucketBy = sm.bucketBy,
      numBuckets = sm.numBuckets,
      sortedBy = sm.sortedBy,
      generation = cur.generation + 1))
    val live = sm.segments.flatMap(_.allFiles).toSet
    CollectionMeta.deferredGc(dir, live)
    // fast-forward the branch base onto what it just published
    CollectionMeta.writeCloneOrigin(staged, dir, committed.version)
    committed.version
  }

  /** ORPHAN data/sidecar files: present in the collection directory but
    * referenced by NO retained manifest, NO tag-pinned manifest, and NO
    * deferred-GC dead-list (dead-listed files are scheduled, not lost).
    * Orphans come from crashed writers whose driver never committed (task
    * files land before the manifest publish) and from interrupted clones.
    * A later truncate/compaction WILL sweep strays into its deferred
    * dead-list — but a collection that is only ever appended to never
    * runs one, so at 100 TB crash leftovers are silent storage leaks
    * until an operator asks. Returns (file, bytes). An unreadable
    * dead-list throws: its files cannot be told apart from orphans. */
  def orphanFiles(): Seq[(String, Long)] = {
    val referenced = CollectionMeta.retainedManifests(dir)
      .flatMap(_.segments).flatMap(_.allFiles).toSet
    val deadListed = CollectionMeta.deadListed(dir)
    CollectionMeta.listDir(dir)
      .filter(p => Files.isRegularFile(p))
      .map(_.getFileName.toString)
      .filter(CollectionMeta.isSegmentFile)
      .filterNot(referenced)
      .filterNot(deadListed)
      .map(n => n -> Files.size(dir.resolve(n)))
  }

  /** Delete the current [[orphanFiles]]; returns how many were removed.
    * Safe by construction: the listing already excludes everything any
    * retained or tagged manifest references and everything the deferred
    * GC owns. Run it after crash recovery, not on a schedule racing
    * in-flight writes (a writer's yet-uncommitted task files look
    * orphaned until its driver commits). */
  def removeOrphans(): Int = {
    val orphans = orphanFiles()
    orphans.foreach { case (n, _) =>
      try Files.deleteIfExists(dir.resolve(n)) catch { case _: Exception => () }
    }
    orphans.size
  }

  /** Age-based history retention (Iceberg `expire_snapshots` analog):
    * drop retained manifest versions committed before `olderThanMs`
    * (epoch millis), current head always kept, superseded index/dv
    * sidecars swept. Bounds rollback/time-travel history by TIME —
    * KeepVersions bounds it by count — so a daily maintenance job can
    * enforce "one week of rollback" regardless of commit frequency.
    * Metadata-only; segment-file reclaim stays with [[vacuum]]. Returns
    * the number of versions expired. */
  def expireSnapshots(olderThanMs: Long): Int =
    CollectionMeta.expireManifestsOlderThan(dir, olderThanMs)

  /** Pin a committed version under a name (Iceberg tag analog). A tagged
    * version is exempt from EVERY retention sweep — count-based ageout,
    * [[expireSnapshots]], rewrite GC — and its segment/sidecar files are
    * excluded from deferred physical GC, so `VERSION AS OF '<name>'` (and
    * [[restoreVersion]]) keep working across later compaction/truncate/CoW
    * until [[dropTag]]. A tag ALSO extends manifest retention forward:
    * every manifest at or above the LOWEST tag survives count-based
    * ageout, so an incremental consumer whose cursor tag sits at version
    * P can replay (P, head] through the manifest chain (changes-window
    * walks across compactions need every in-window manifest) no matter
    * how far it lags — retention bounded by consumer lag, the Kafka
    * shape. `version = -1` tags the current head. Returns the version
    * tagged. At 100 TB a tag is the cheap "release snapshot" verb: one
    * metadata write pins the exact bytes a training run consumed. */
  def createTag(name: String, version: Long = -1L): Long = {
    require(!CollectionMeta.readBranches(dir).contains(name),
      s"hadro: '$name' is a branch — tags and branches share the " +
        "VERSION AS OF namespace (drop the branch first)")
    val v = if (version < 0) this.version else version
    CollectionMeta.setRef(dir, name, v)
    v
  }

  /** Drop a named tag; its pinned files return to normal GC at the next
    * maintenance cycle. Returns whether the tag existed. */
  def dropTag(name: String): Boolean = {
    require(!CollectionMeta.readBranches(dir).contains(name),
      s"hadro: '$name' is a branch — use dropBranch/system.drop_branch")
    CollectionMeta.dropRef(dir, name)
  }

  /** All named tags: name -> pinned version (branch heads included —
    * they live in the same ref namespace). */
  def tags: Map[String, Long] = CollectionMeta.readRefs(dir)

  /** Fork a BRANCH (Iceberg branch analog) at `version` (-1 = current
    * head) — the write-audit-publish staging surface. Writes routed to
    * the branch (`option("hadro.branch", name)` or session conf
    * `spark.hadro.writeBranch`) commit manifests main readers never see;
    * `VERSION AS OF '<name>'` reads the staged state for auditing; and
    * [[fastForward]] publishes it as one atomic main commit. The head is
    * pinned like a tag, so no retention sweep reclaims staged state. At
    * 100 TB this is the ingest-gate shape: land a day's data on a branch,
    * run quality checks against the staged snapshot, publish or drop —
    * main readers never observe unaudited rows. Returns the fork version. */
  def createBranch(name: String, version: Long = -1L): Long =
    CollectionMeta.createBranch(dir, name, version)

  /** Drop a branch: staged manifests age out with normal retention and
    * staged segment files become reclaimable (the audit-failed path).
    * Returns whether the branch existed. */
  def dropBranch(name: String): Boolean = CollectionMeta.dropBranch(dir, name)

  /** All branches: name -> (head version, fork-base version). */
  def branches: Map[String, (Long, Long)] = {
    val refs = CollectionMeta.readRefs(dir)
    CollectionMeta.readBranches(dir).map { case (n, base) =>
      n -> (refs.getOrElse(n, base), base)
    }
  }

  /** Publish a branch: republish its head as one atomic MAIN commit, iff
    * main has not moved since the fork (otherwise conflict — staged state
    * would drop main's newer rows). Advances the fork base so the
    * audit-publish cycle continues on the same branch. Returns the
    * published main version. */
  def fastForward(name: String): Long =
    CollectionMeta.fastForwardBranch(dir, name)

  /** Publish a branch by REBASE (Iceberg cherry-pick analog): re-apply
    * its staged append segments onto the CURRENT main head — the publish
    * that still works after main moved (where [[fastForward]] refuses).
    * Metadata-only (segments are immutable; re-apply appends them with
    * fresh ordinals, so staged rows rank newest under last-write-wins);
    * the branch is then re-forked at the published version and the cycle
    * continues. Returns the published main version. */
  def rebase(name: String): Long = CollectionMeta.rebaseBranch(dir, name)

  /** Add a CHECK constraint (SQL semantics: NULL passes, FALSE fails).
    * Validates the expression against the schema (full analyzer — type
    * coercion, builtin functions) AND retroactively proves EXISTING rows
    * comply with one distributed scan before publishing; every subsequent
    * write — batch, streaming, CoW rewrite, delta — then enforces it per
    * row in the writer tasks. Declarable in SQL via
    * `TBLPROPERTIES ('constraint.<name>' = '<expr>')`. */
  def addConstraint(name: String, expression: String): Unit = {
    val stored = CollectionMeta.readSchema(dir).getOrElse(
      throw new IllegalStateException(s"hadro: no collection at $path")).schema
    graft.spark.HadroWriteInit.bindConstraint(stored, name, expression)
    val violated = toDF()
      .filter(org.apache.spark.sql.functions.expr(expression) <=> lit(false))
      .limit(1).count()
    require(violated == 0L,
      s"hadro: cannot add CHECK constraint '$name' ($expression) — existing rows violate it")
    CollectionMeta.writeConstraints(dir,
      CollectionMeta.readConstraints(dir) + (name -> expression))
  }

  /** Drop a CHECK constraint; returns whether it existed. */
  def dropConstraint(name: String): Boolean = {
    val cs = CollectionMeta.readConstraints(dir)
    if (!cs.contains(name)) false
    else { CollectionMeta.writeConstraints(dir, cs - name); true }
  }

  /** All CHECK constraints: name -> SQL expression text. */
  def constraints: Map[String, String] = CollectionMeta.readConstraints(dir)

  /** ANALYZE TABLE analog: compute table-level per-column statistics over
    * the RESOLVED data (what queries see) in ONE distributed aggregation
    * pass — distinct count (HLL-approximate by default, `exact = true` for
    * a full count-distinct shuffle), null count, avg/max string length,
    * and numeric min/max — and publish them on the manifest, where the
    * scan's `SupportsReportStatistics.columnStats` hands them to Spark's
    * cost-based optimizer (join reordering, broadcast decisions, filter
    * selectivity). At 100 TB the approximate pass is one scan + one
    * HLL-sketch merge per column; stats then amortize over every query
    * until the next analyze. Returns field-ordered (column, stats). */
  def analyze(exact: Boolean = false,
      histogramBins: Int = 0): Seq[(String, graft.meta.ColumnStatMeta)] = {
    import org.apache.spark.sql.types._
    require(histogramBins >= 0, "histogramBins must be >= 0")
    val logical = CollectionMeta.logicalSchema(CollectionMeta.readSchema(dir).get.schema)
    val m0 = manifest
    val df = toDF()
    def n(field: String, what: String) = s"${field}__$what"
    def numeric(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => true
      case _ => false
    }
    val aggs = logical.fields.toSeq.flatMap { f =>
      val c = col(f.name)
      val base = Seq(
        (if (exact) count_distinct(c) else approx_count_distinct(c))
          .as(n(f.name, "ndv")),
        org.apache.spark.sql.functions.count(when(c.isNull, lit(1)))
          .as(n(f.name, "nulls")))
      val len = f.dataType match {
        case StringType => Seq(
          avg(length(c)).as(n(f.name, "avglen")),
          max(length(c)).as(n(f.name, "maxlen")))
        case BinaryType => Seq(
          avg(octet_length(c)).as(n(f.name, "avglen")),
          max(octet_length(c)).as(n(f.name, "maxlen")))
        case _ => Nil
      }
      val rng = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => Seq(
          min(c).cast(LongType).as(n(f.name, "minl")),
          max(c).cast(LongType).as(n(f.name, "maxl")))
        case FloatType | DoubleType => Seq(
          min(c).cast(DoubleType).as(n(f.name, "mind")),
          max(c).cast(DoubleType).as(n(f.name, "maxd")))
        case _ => Nil
      }
      // equi-height bin bounds: bins+1 percentile cut points in the SAME
      // single aggregation pass (no extra scan)
      val histo =
        if (histogramBins > 0 && numeric(f.dataType)) Seq(
          percentile_approx(c.cast(DoubleType),
            typedlit((0 to histogramBins).map(_.toDouble / histogramBins)),
            lit(10000)).as(n(f.name, "histo")))
        else Nil
      base ++ len ++ rng ++ histo
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def g[T](field: String, what: String): Option[T] = {
      val name = n(field, what)
      if (!row.schema.fieldNames.contains(name)) None
      else {
        val i = row.fieldIndex(name)
        if (row.isNullAt(i)) None else Some(row.get(i).asInstanceOf[T])
      }
    }
    val stats = logical.fields.toSeq.map { f =>
      val default = f.dataType.defaultSize.toLong
      val ndv = g[Long](f.name, "ndv").getOrElse(0L)
      val bins = g[scala.collection.Seq[Double]](f.name, "histo").map { cuts0 =>
        val cuts = cuts0.toIndexedSeq // immutable: Seq pattern must match
        val perBin = math.max(1L, ndv / math.max(1, cuts.size - 1))
        cuts.sliding(2).collect { case Seq(lo, hi) =>
          graft.meta.HistogramBinMeta(lo, hi, perBin)
        }.toSeq
      }.getOrElse(Nil)
      f.name -> graft.meta.ColumnStatMeta(
        distinctCount = ndv,
        nullCount = g[Long](f.name, "nulls").getOrElse(0L),
        avgLen = g[java.lang.Number](f.name, "avglen")
          .map(d => math.max(1L, math.round(d.doubleValue()))).getOrElse(default),
        maxLen = g[java.lang.Number](f.name, "maxlen")
          .map(_.longValue()).getOrElse(default),
        minLong = g[Long](f.name, "minl"),
        maxLong = g[Long](f.name, "maxl"),
        minDouble = g[Double](f.name, "mind"),
        maxDouble = g[Double](f.name, "maxd"),
        histogram = bins)
    }
    CollectionMeta.commit(dir, cur =>
      cur.copy(colStats = stats.toMap, analyzedVersion = m0.version))
    stats
  }

  /** Z-order the collection: rewrite resolved rows range-clustered on the
    * Morton-interleaved key of `cols` (1-4 numeric columns), so every
    * clustered column gets narrow per-segment min/max and manifest stats
    * prune segments for filters on ANY of them — the multi-predicate
    * layout a single-column sort can't give. Same atomicity/GC path as
    * [[compact]] (manifest swap, deferred physical GC). */
  def cluster(cols: Seq[String], numSegments: Int = 16,
      lex: Boolean = false): Unit =
    CommitConflictException.retrying(s"hadro: cluster of $path") { _ =>
    val schema = CollectionMeta.readSchema(dir).get.schema
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"cluster column '$c' not in ${schema.simpleString}"))
    val m0 = manifest
    // One column: a plain range sort on the column itself beats z-order
    // (no 16-bit bucket quantization) AND yields truly sorted segments,
    // recorded as `hadro.sortedBy` so scans report the ordering and
    // downstream sorts on it are planned away. Multi-column, default:
    // Morton interleave (balanced box queries on EVERY column; sorted by
    // the transport key only — not reportable). Multi-column `lex = true`:
    // LEXICOGRAPHIC rewrite — range-partitioned and sorted on the full
    // column list, declared via hadro.sortedBy, so segments land with
    // writer-verified composite bounds (disjoint lex ranges), the scan
    // reports the full ordering prefix, and conjunctive
    // (leading = x, trailing-range) predicates prune straddler-free —
    // the (tenant, ts) layout as a maintenance job instead of a declared
    // write order. Choose z-order when all columns filter independently;
    // choose lex when queries anchor the leading column(s).
    val rewritten =
      if (cols.lengthCompare(1) == 0)
        resolvedAsOf(m0.version)
          .repartitionByRange(numSegments, col(cols.head))
          .sortWithinPartitions(cols.head)
      else if (lex)
        resolvedAsOf(m0.version)
          .repartitionByRange(numSegments, cols.map(col): _*)
          .sortWithinPartitions(cols.map(col): _*)
      else graft.ops.LayoutOps.zOrderBy(resolvedAsOf(m0.version), cols, numSegments)
    var w = rewritten.write.format("hadro").mode("overwrite")
      .option("hadro.compactOf", m0.version.toString)
      .option("hadro.compactOfGen", m0.generation.toString)
      .option("hadro.rewrite", "true")
    if (cols.lengthCompare(1) == 0) w = w.option("hadro.sortedBy", cols.head)
    else if (lex) w = w.option("hadro.sortedBy", cols.mkString(","))
    w.save(path)
  }

  /** Rewrite the collection to only live, resolved rows (#23) — the
    * compaction/merge the reference names as a needed maintenance job but
    * never builds (`hadro/engine.py:53`). Atomic: readers see the old
    * manifest until the rewrite commits. `targetSegmentBytes` > 0 makes
    * writer-side rotation cap every rewritten segment at about that size,
    * so one compaction both drops dead rows AND normalizes the file-size
    * distribution (the OPTIMIZE target-file-size knob); 0 = no cap. A
    * concurrent commit that invalidates the pinned snapshot re-plans it
    * ([[graft.meta.CommitConflictException.retrying]]). */
  def compact(targetSegmentBytes: Long = 0L): Unit =
    CommitConflictException.retrying(s"hadro: compaction of $path") { _ =>
    // No dataset-sized cache: segments are immutable and the read plan is
    // pinned to manifest version v0, so write tasks stream resolved rows
    // from the OLD segment files into fresh ones; the manifest swap +
    // old-file GC happen in the driver-side commit only after every task
    // has finished. Snapshot isolation comes free from immutability.
    // The pin also makes concurrent appends SAFE: the commit preserves
    // any segment committed after v0 (re-ordered behind the rewrite), so
    // a write landing mid-compaction is never silently dropped; a
    // concurrent truncate aborts the compaction instead of being undone.
    val m0 = manifest
    // A bucketed collection must stay bucketed through compaction, or the
    // rewrite silently turns storage-partitioned joins off: re-route the
    // rewritten rows with the same spec (one shuffle on the same bucket
    // expression the ingest used, so each task writes one bucket).
    // A declared physical sort must survive compaction too: dropping it
    // silently costs ordered scans (RemoveRedundantSorts) and SMB joins
    // their sort-free plans, and block stats their disjoint ranges. Plain
    // sorted collections re-range-partition on the sort column; bucketed
    // ones re-sort WITHIN each bucket (per-bucket segment appends preserve
    // task order, so each rewritten bucket segment comes out sorted).
    val writer0 = (m0.bucketBy, m0.numBuckets) match {
      case (Some(c), Some(n)) =>
        import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
        val cols = c.split(",").toSeq
        val routed = resolvedAsOf(m0.version)
          .repartition(n, pmod(xxhash64(cols.map(col): _*), lit(n)))
        val w = m0.sortedBy match {
          case Some(sc) => routed.sortWithinPartitions(sc)
            .write.option("hadro.sortedBy", sc)
          case None => routed.write
        }
        w.option("hadro.bucketBy", c).option("hadro.buckets", n.toString)
      case _ =>
        // A value-partitioned collection (PARTITIONED BY days(ts)/...)
        // re-routes per value in the WRITER regardless (the spec is
        // schema-level), but clustering the rewrite by the transform
        // keeps it one-segment-per-value instead of tasks x values.
        // Equality is all repartitioning needs, so date_trunc stands in
        // for the writer's epoch-ordinal tags.
        val metaOpt = CollectionMeta.readSchema(dir)
        val pSpec = metaOpt.flatMap(m =>
          for { c <- m.partitionBy; t <- m.partitionTransform } yield (c, t))
        pSpec match {
          case Some((c, t)) =>
            import org.apache.spark.sql.functions.{col, expr}
            import org.apache.spark.sql.types.{DateType, TimestampType}
            val dt = metaOpt.get.schema.fields.find(_.name == c).map(_.dataType)
            // The grouping must mirror the WRITER's UTC-epoch-ordinal
            // tags, so it is built timezone-free: date_trunc on a
            // session-zoned TIMESTAMP groups by LOCAL day and would
            // split every day across two segments in a non-UTC session.
            // Raw-micros floor-division for zoned timestamps; wall-clock
            // date_trunc/to_date (inherently tz-free) for NTZ and DATE.
            val pe = (t, dt) match {
              case ("identity", _) => col(c)
              case ("days", Some(TimestampType)) =>
                expr(s"floor(unix_micros(`$c`) / 86400000000)")
              case ("days", Some(DateType)) => col(c)
              case ("days", _) => expr(s"to_date(`$c`)") // NTZ: wall clock
              case ("hours", Some(TimestampType)) =>
                expr(s"floor(unix_micros(`$c`) / 3600000000)")
              case ("hours", _) => expr(s"date_trunc('HOUR', `$c`)") // NTZ
              case ("months" | "years", _) =>
                val d = dt match {
                  case Some(TimestampType) =>
                    s"date_add(DATE '1970-01-01', " +
                      s"cast(floor(unix_micros(`$c`) / 86400000000) as int))"
                  case Some(DateType) => s"`$c`"
                  case _ => s"to_date(`$c`)" // NTZ: wall clock
                }
                expr(s"trunc($d, '${if (t == "months") "MONTH" else "YEAR"}')")
            }
            val routed = resolvedAsOf(m0.version).repartition(pe)
            m0.sortedBy match {
              case Some(sc) => routed.sortWithinPartitions(sc)
                .write.option("hadro.sortedBy", sc)
              case None => routed.write
            }
          case None => m0.sortedBy match {
            case Some(sc) =>
              import org.apache.spark.sql.functions.col
              resolvedAsOf(m0.version)
                .repartitionByRange(math.max(1, m0.segments.size), col(sc))
                .sortWithinPartitions(sc)
                .write.option("hadro.sortedBy", sc)
            case None => resolvedAsOf(m0.version).write
          }
        }
    }
    val writer1 =
      if (targetSegmentBytes > 0)
        writer0.option("hadro.maxSegmentBytes", targetSegmentBytes.toString)
      else writer0
    writer1.format("hadro").mode("overwrite")
      .option("hadro.compactOf", m0.version.toString)
      .option("hadro.compactOfGen", m0.generation.toString)
      .option("hadro.rewrite", "true").save(path)
  }

  /** Bin-pack small segments without rewriting the collection — the
    * maintenance job streaming epochs and per-bucket catalog writes need:
    * each micro-batch/bucket commit leaves a small segment, and at 100 TB
    * the fix must NOT be [[compact]]'s rewrite-the-world.
    *
    * CONTIGUOUS manifest-order runs of segments under `minBytes` are
    * greedily binned to ~`minBytes` and each bin is rewritten as one
    * segment (one per bucket for bucketed collections) through the atomic
    * replace commit (`hadro.replaceFiles`): untouched segments are carried
    * by reference, bucket tags are recomputed under the recorded spec, and
    * record order inside the bin is preserved exactly (tombstones
    * included, sorted by `_hadro_seq`), so last-write-wins resolution is
    * byte-identical before and after. Contiguity is what makes the order
    * proof local: a bin re-inserts at its own manifest position, so no
    * record crosses another segment's position. A pure-append bin is
    * re-sorted on the declared `sortedBy`, so the declaration survives.
    *
    * Returns the number of bins rewritten. Only bins of >= 2 segments are
    * worth a commit; a collection with nothing to pack returns 0 and
    * commits nothing. Bins commit independently (atomic-per-bin): if a
    * concurrent writer conflicts with a later bin, earlier bins STAY
    * committed — the method stops and returns how many landed, and the
    * caller can simply run it again. */
  def compactSmall(minBytes: Long): Int = {
    require(minBytes > 0, s"minBytes must be positive, got $minBytes")
    val m0 = manifest
    // KEYED + value-partitioned: bins must not cross partition tags. A
    // key's rows can carry DIFFERENT transform values across upserts, so
    // a mixed-tag bin would re-split per value on rewrite — and the new
    // segments' relative ordinals (tag order) need not match record seq
    // order, which could invert last-write-wins. Same-tag runs keep the
    // order proof local, exactly like buckets (where a key always hashes
    // to one bucket and the hazard cannot arise).
    val tagSensitive = keyField.isDefined &&
      CollectionMeta.readSchema(dir).exists(_.partitionBy.isDefined)
    val bins = scala.collection.mutable.Buffer.empty[Seq[graft.meta.SegmentInfo]]
    val cur = scala.collection.mutable.Buffer.empty[graft.meta.SegmentInfo]
    var curBytes = 0L
    def flush(): Unit = {
      if (cur.size >= 2) bins += cur.toSeq
      cur.clear(); curBytes = 0L
    }
    m0.segments.foreach { s =>
      if (tagSensitive && cur.nonEmpty && cur.last.partition != s.partition)
        flush() // a tag change breaks the run (order proof above)
      if (s.bytes < minBytes) {
        cur += s; curBytes += s.bytes
        if (curBytes >= minBytes) flush() // bin full: output lands in [minBytes, 2*minBytes)
      } else flush() // a big segment breaks the contiguous run
    }
    flush()
    bins.iterator.takeWhile(replaceSegments(m0, _)).size
  }

  /** Materialize deletion vectors: rewrite ONLY the segments whose
    * DV-deleted row fraction is at least `minFraction`, dropping the
    * vectored rows physically — and the bitmap sidecar with them (Delta's
    * `REORG TABLE ... APPLY (PURGE)` shape). DVs make deletes O(deleted
    * rows) at write time, but every subsequent scan pays the bitmap probe
    * and the dead bytes stay on disk; at 100 TB the reclaim must be
    * surgical — a per-segment atomic replace commit
    * (`hadro.replaceFiles`), never [[compact]]'s rewrite-the-world.
    * Untouched segments are carried by reference, byte-identical on disk.
    *
    * Each rewritten segment re-inserts at its own manifest position with
    * intra-segment record order preserved (sequence order for
    * keyed/mutated collections, tombstone records included via the
    * changefeed view), so last-write-wins resolution is identical before
    * and after. A fully-vectored segment (every row deleted) is dropped
    * outright — the zero-new-segments replace commit. A concurrent DV
    * delete or rewrite of a target conflicts via the pinned (file, dv)
    * pair; partial progress is safe progress (the [[compactSmall]]
    * contract): the method stops and returns how many segments landed,
    * and the caller can simply run it again.
    *
    * `minFraction` is the cost gate: 0.0 purges every vectored segment
    * (full reclaim before an archival snapshot); 0.3 is the maintenance
    * sweep that only rewrites segments where at least 30% of the bytes
    * are dead, bounding write amplification.
    *
    * Returns the number of segments rewritten or dropped. */
  def purgeDeletes(minFraction: Double = 0.0): Int = {
    require(minFraction >= 0.0 && minFraction <= 1.0,
      s"minFraction must be in [0, 1], got $minFraction")
    val m0 = manifest
    val targets = m0.segments.filter(s => s.deleteVector.isDefined &&
      s.dvDeletes.toDouble / math.max(1L, s.rows) >= minFraction)
    targets.iterator.takeWhile(seg => replaceSegments(m0, Seq(seg))).size
  }

  /** The one segment rewrite behind [[compactSmall]], [[purgeDeletes]] and
    * [[compactPartitions]]: rewrite one `group` of segments through the
    * atomic replace commit (`hadro.replaceFiles`) and say whether it
    * committed. Untouched segments are carried by reference, and the group
    * re-inserts at its own manifest position. `m0` is the manifest the
    * groups were planned against:
    *   - mutated: the changefeed view in `_hadro_seq` order, so tombstones
    *     (which shadow keys in OLDER segments) survive and last-write-wins
    *     resolution is identical before and after;
    *   - otherwise: the plain rows, re-sorted on the declared `sortedBy`
    *     and declaring it again, or the commit would clear it;
    *   - the recorded bucket spec recomputes bucket tags either way, and
    *     the reader drops dv'd rows, so a vectored segment loses exactly
    *     its vector.
    * Each group pins the CURRENT generation (earlier groups bumped it) and
    * its plan-time (file, dv) pairs, so a concurrent truncate, rewrite or
    * dv delete conflicts instead of losing its work. `requireUnmutated`
    * also refuses the commit once a first upsert has landed. The verbs
    * stop at the first conflict, since the conflicting writer may have
    * replaced the very segments later groups reference (the
    * [[compactSmall]] contract: earlier groups stay committed). */
  private def replaceSegments(m0: graft.meta.Manifest,
      group: Seq[graft.meta.SegmentInfo], requireUnmutated: Boolean = false): Boolean = {
    val files = group.map(_.file).mkString(",")
    val read = spark.read.format("hadro").option("hadro.files", files)
    val sortCol = if (m0.mutated) None else m0.sortedBy
    val rows =
      if (m0.mutated) {
        // logical columns only: dropped physical slots are invisible to
        // scans (the rewrite's write path re-null-fills them)
        val storedCols = CollectionMeta.logicalSchema(
          CollectionMeta.readSchema(dir).get.schema).fieldNames.toSeq
        read.option("hadro.changefeed", "full").load(path)
          .repartition(1)
          .sortWithinPartitions(col(HadroTable.SeqCol))
          .select(storedCols.map(col) :+
            col(HadroTable.DeletedCol).as("__hadro_delete"): _*)
      } else {
        val base = read.load(path).repartition(1)
        sortCol.fold(base)(sc => base.sortWithinPartitions(col(sc)))
      }
    var w = rows.write.format("hadro").mode("append")
      .option("hadro.replaceFiles", files)
      .option("hadro.replaceGen", manifest.generation.toString)
      .option("hadro.rewrite", "true")
      .option("hadro.replaceDv",
        group.map(s => s"${s.file}=${s.deleteVector.getOrElse("")}").mkString(","))
    if (m0.mutated) w = w.option("hadro.deleteCol", "__hadro_delete")
    sortCol.foreach(sc => w = w.option("hadro.sortedBy", sc))
    for (c <- m0.bucketBy; n <- m0.numBuckets)
      w = w.option("hadro.bucketBy", c).option("hadro.buckets", n.toString)
    if (requireUnmutated) w = w.option("hadro.replaceIfUnmutated", "true")
    try { w.save(path); true }
    catch { case e: Exception if CommitConflictException.isConflict(e) => false }
  }
}

/** Staging area for [[Collection.transaction]]: frames accumulate lazily;
  * nothing touches disk until the transaction body completes. */
final class TransactionBatch private[api] () {
  private val frames = scala.collection.mutable.Buffer.empty[DataFrame]
  private var upserts = false

  /** Stage an append. */
  def add(df: DataFrame): Unit = frames += df
  /** Stage a keyed upsert (marks the commit as mutating). */
  def set(df: DataFrame): Unit = { upserts = true; frames += df }

  private[api] def staged: Seq[DataFrame] = frames.toSeq
  private[api] def hasUpserts: Boolean = upserts
}

object Collection {
  /** Open or create (`HadroDB(collection)` analog, engine.py:80-120). */
  def apply(spark: SparkSession, path: String): Collection =
    new Collection(spark, path)

  /** Minimum age before [[Collection.vacuum]] sweeps an unreferenced
    * sidecar file — generous headroom over any in-flight statement that
    * has written sidecars but not yet committed its manifest. Overridable
    * for tests only. */
  @volatile private[graft] var OrphanSweepAgeMs: Long = 60L * 60L * 1000L

  /** Largest touched-key set [[Collection.resolvedAsOf(version,touched)]]
    * pushes into the scan as IN literals (plan-time bloom probes are
    * per-segment × per-value — bounded keeps planning cheap); larger
    * sets restrict via a semi join below the LWW window instead. */
  private[graft] val MaxKeyPushdown: Int = 1000

  /** The one bounded driver fetch behind every loop operator's "driver
    * path within the bound, Spark fallback over it" choice: ONE
    * `limit(bound + 1)` collect, `Some(rows)` when the frame holds at
    * most `bound` rows (then they are all of them), `None` over it. The
    * driver never holds more than `bound + 1` rows, so an oversized
    * input fails over or refuses instead of OOMing a `collect()`.
    *
    * When the over-bound branch reads the SAME frame again (the
    * distributed fallback), pass `df.localCheckpoint(eager = false)`
    * here and hand that checkpoint to the fallback: the lazy checkpoint
    * runs the frame's shuffle stages when it is built, this fetch fills
    * its blocks, and the fallback reads the blocks — the input runs once
    * on either path (an over-bound fetch followed by a fresh checkpoint
    * runs it twice). Take the checkpoint only where the frame ends in a
    * `distinct`/`groupBy`, which AQE coalesces to one partition at
    * window sizes: on a multi-partition last stage the checkpoint
    * computes the partitions the fetch skipped in an extra job. A
    * map-only frame that is not read again takes no checkpoint. */
  private[graft] def boundedRows(df: DataFrame,
      bound: Int): Option[Array[org.apache.spark.sql.Row]] = {
    val rows = df.limit(bound + 1).collect()
    if (rows.length <= bound) Some(rows) else None
  }

  /** [[boundedRows]] over a ONE-COLUMN frame, as values: callers turn
    * them into IN-predicate scan pushdown (the seq may contain nulls,
    * null handling stays with the caller) or, on `None`, fall back to a
    * join. */
  private[graft] def boundedKeyLits(df: DataFrame,
      max: Int): Option[Seq[Any]] =
    boundedRows(df, max).map(_.map(_.get(0)).toSeq)

  /** The promotions [[Collection.widenColumn]] accepts: every value the
    * old type can hold is exactly representable in the new one. */
  private[graft] def safeWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case _ => false
    }
  }

  /** True when a plan's row POSITIONS are stable across re-evaluations, so
    * a position-derived id (monotonically_increasing_id) is reproducible.
    * Conservative whitelist: narrow deterministic operators over leaf
    * sources only. Anything that shuffles (join, aggregate, repartition,
    * sort, sample) fetches map outputs in nondeterministic order, and any
    * non-deterministic expression can change row content between the write
    * and the returned frame — both force the localCheckpoint path in
    * [[Collection.add]]. */
  private[api] def orderStable(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val unstableShape = plan.exists {
      case _: LeafNode | _: Project | _: Filter | _: SubqueryAlias |
           _: Union | _: GlobalLimit | _: LocalLimit => false
      case _ => true
    }
    val nonDet = plan.exists(_.expressions.exists(e => !e.deterministic))
    !unstableShape && !nonDet
  }

  /** Create a collection by ingesting a DataFrame, optionally keyed. */
  def create(spark: SparkSession, path: String, df: DataFrame,
      key: Option[String] = None, numSegments: Int = 0,
      consistency: String = "relaxed"): Collection = {
    val p = Paths.get(path)
    if (Files.exists(p)) deleteRecursively(p)
    val out = if (numSegments > 0) df.repartition(numSegments) else df
    out.write.format("hadro").mode("append")
      .option("hadro.consistency", consistency)
      .option("hadro.key", key.orNull)
      .save(path)
    new Collection(spark, path)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      CollectionMeta.listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
