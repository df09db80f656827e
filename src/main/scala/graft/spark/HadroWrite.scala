package graft.spark

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

import graft.format.{Consistency, SegmentWriter}
import graft.meta.{CollectionMeta, CommitConflictException, SegmentInfo}

/** Write-side options (all prefixed `hadro.`):
  *   - `consistency`: relaxed | aggressive — fsync cadence, mirroring
  *     `/root/reference/hadro/config.py:5-24` (default relaxed).
  *   - `key`: name of the logical primary-key field; persisted in the
  *     collection schema on creation, drives Collection LWW semantics.
  *   - `tombstone`: "true" marks every record of this write as a delete
  *     (flag bit, `/root/reference/hadro/engine.py:26`).
  *   - `upsert`: "true" records that this write may shadow earlier keys, so
  *     reads must resolve last-write-wins (pure-append collections skip it).
  *   - `deleteCol`: boolean transport column of the incoming frame marking
  *     per-record tombstones — one atomic commit mixes upserts and deletes
  *     (CDC merge); the column is never stored.
  *   - `splitBytes`: split-point cadence inside a segment (read
  *     parallelism); `maxSegmentBytes`: writer-side rotation cap (one task
  *     produces many bounded files instead of one unbounded one).
  *   - `compactOf`/`compactOfGen`: snapshot pin for compaction rewrites —
  *     the truncate commit preserves segments committed after the pin and
  *     aborts if a concurrent truncate changed the generation.
  *   - `offsetIndex`: write per-segment key→offset sidecars (default on).
  *   - `bucketBy`/`buckets`: storage bucketing — every row routes to the
  *     segment of bucket `pmod(xxhash64(col), buckets)` (Spark's own
  *     xxhash64, seed 42, so `df.repartition(n, pmod(xxhash64(col(k)),
  *     lit(n)))` co-partitions the shuffle with the files). Scans of a
  *     fully-tagged collection report KeyGroupedPartitioning, enabling
  *     storage-partitioned joins: two co-bucketed collections join with
  *     ZERO exchanges.
  */
final class HadroWriteBuilder(path: Path, info: LogicalWriteInfo,
    viaCatalog: Boolean = false)
    extends WriteBuilder with SupportsTruncate with SupportsDynamicOverwrite
    with org.apache.spark.sql.connector.write.SupportsOverwriteV2 {

  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  // REPLACE WHERE (`df.writeTo(t).overwrite(cond)` / SQL static
  // `INSERT OVERWRITE t PARTITION (p = v)`): one atomic commit deletes
  // every row matching the predicate and appends the batch. The engine's
  // contract is whole-segment replacement proven by manifest statistics —
  // see [[HadroReplaceWhere]]. Spark routes the all-rows case
  // (`AlwaysTrue`) to truncate() above, never here. The predicates are
  // compiled (and the guidance error raised) at build time, not commit
  // time, so an unsupported predicate fails before any task runs.
  private var replaceWhere: Option[Array[
    org.apache.spark.sql.connector.expressions.filter.Predicate]] = None
  override def overwrite(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): WriteBuilder = {
    replaceWhere = Some(predicates); this
  }

  // Dynamic partition overwrite (`INSERT OVERWRITE` under
  // partitionOverwriteMode=dynamic / `DataFrameWriterV2.overwritePartitions`):
  // atomically replace ONLY the value-partitions present in the incoming
  // batch — the daily-reprocess shape. Untouched partitions are carried by
  // reference, byte-identical.
  private var doDynamicOverwrite = false
  override def overwriteDynamicPartitions(): WriteBuilder = {
    doDynamicOverwrite = true; this
  }

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    private def opts = info.options()
    private def consistency = Consistency.parse(opts.getOrDefault("hadro.consistency", "relaxed"))
    private def tombstone = opts.getBoolean("hadro.tombstone", false)
    private def upsert = opts.getBoolean("hadro.upsert", false)
    private def keyField = Option(opts.get("hadro.key")).filter(_.nonEmpty)
    // CDC merge: a boolean column of the INCOMING frame (not stored) that
    // marks per-record tombstones, so one atomic commit mixes upserts and
    // deletes — the MERGE/apply-changes shape.
    private def deleteCol = Option(opts.get("hadro.deleteCol")).filter(_.nonEmpty)
    private def splitBytes = {
      val sb = opts.getLong("hadro.splitBytes", SegmentWriter.DefaultSplitBytes)
      require(sb > 0, s"hadro.splitBytes must be positive, got $sb")
      sb
    }
    private def offsetIndex = opts.getBoolean("hadro.offsetIndex", true)
    // Writer-side segment rotation: one huge ingest task must not produce
    // one huge file — rotation caps segment size so compaction/GC/replica
    // granularity stays bounded regardless of task skew. 0 = off.
    private def maxSegmentBytes = opts.getLong("hadro.maxSegmentBytes", 0L)
    // Compaction snapshot pin: this truncate is a REWRITE of the named
    // manifest version, so segments committed after it (concurrent
    // appends) must be preserved, not silently dropped with the old data.
    private def compactOf = Option(opts.get("hadro.compactOf")).filter(_.nonEmpty).map(_.toLong)
    // Generation captured AT pin time: the conflict check must not depend
    // on the pinned manifest surviving until commit (a conflicting
    // truncate GCs it).
    private def compactOfGen = Option(opts.get("hadro.compactOfGen")).filter(_.nonEmpty).map(_.toLong)
    // Partial rewrite: this commit atomically REPLACES the named segment
    // files with the write's new segments, inserted at the first replaced
    // file's manifest position (so a contiguous replaced run keeps its
    // global order — the invariant last-write-wins needs). Requires
    // hadro.replaceGen (the generation observed when the files were
    // chosen); a concurrent truncate/compaction/replace conflicts and
    // aborts instead of resurrecting or dropping data.
    private def replaceSpec: Option[ReplaceSpec] = {
      val files = Option(opts.get("hadro.replaceFiles")).filter(_.nonEmpty)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      files.map { fs =>
        val gen = Option(opts.get("hadro.replaceGen")).filter(_.nonEmpty).map(_.toLong)
          .getOrElse(throw new IllegalArgumentException(
            "hadro: hadro.replaceFiles requires hadro.replaceGen (the pinned generation)"))
        require(fs.nonEmpty, "hadro: hadro.replaceFiles must name at least one file")
        // "f1=dv1,f2=,f3=dv3": each replaced file's deletion-vector sidecar
        // at plan time; empty value = no vector. Absent option = no check.
        val dv = Option(opts.get("hadro.replaceDv")).filter(_.nonEmpty)
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).map { pair =>
            val i = pair.indexOf('=')
            require(i >= 0, s"hadro: malformed hadro.replaceDv entry '$pair'")
            val f = pair.substring(0, i)
            val v = pair.substring(i + 1)
            f -> (if (v.isEmpty) None else Some(v))
          }.toMap).getOrElse(Map.empty[String, Option[String]])
        ReplaceSpec(fs, gen, dv,
          opts.getBoolean("hadro.replaceIfUnmutated", false))
      }
    }
    // Collection-level payload compression, fixed at creation: per-record
    // zstd frames behind a flag bit (byte-offset structures stay exact).
    private def compressSpec: Option[String] = {
      val c = Option(opts.get("hadro.compress")).filter(_.nonEmpty).map(_.toLowerCase)
      c.foreach(v => require(v == "zstd" || v == "zstd-dict" || v == "none",
        s"hadro.compress must be zstd|zstd-dict|none, got '$v'"))
      c // "none" stays explicit: flipping a zstd collection must error
    }
    // Storage bucketing: both options or neither. hadro.bucketBy accepts a
    // comma-separated column list (multi-key joins bucket on all keys).
    private def sortedSpec: Option[String] =
      Option(opts.get("hadro.sortedBy")).filter(_.nonEmpty)
    // Auto-compaction opt-in: write option first, session conf as the
    // fleet-wide default (`spark.hadro.autoCompact.minBytes` /
    // `.minSegments`). (minBytes, minSegments): after a plain append (or
    // streaming epoch), >= minSegments segments under minBytes trigger a
    // best-effort compactSmall — see the commit hooks.
    private def autoCompactSpec: Option[(Long, Int)] = {
      val sc = org.apache.spark.sql.internal.SQLConf.get
      Option(opts.get("hadro.autoCompact")).filter(_.nonEmpty)
        .orElse(Option(sc.getConfString(
          "spark.hadro.autoCompact.minBytes", "")).filter(_.nonEmpty))
        .map { s =>
          val b = s.toLong
          require(b > 0, s"hadro.autoCompact minBytes must be positive, got $b")
          val n = Option(opts.get("hadro.autoCompact.minSegments"))
            .filter(_.nonEmpty)
            .getOrElse(sc.getConfString(
              "spark.hadro.autoCompact.minSegments", "8")).toInt
          require(n >= 2, s"hadro.autoCompact.minSegments must be >= 2, got $n")
          (b, n)
        }
    }
    // Write-audit-publish staging: route this write's commit onto the
    // named BRANCH (Iceberg `spark.wap.branch` analog) — invisible to
    // main readers until `CALL system.fast_forward` publishes it. Write
    // option first; session conf `spark.hadro.writeBranch` covers SQL
    // INSERT, which has no options surface. Append-shaped writes only
    // (append/upsert/CDC merge): truncate and the replace modes rewrite
    // main-line file sets and have no staged meaning.
    private def branchSpec: Option[String] = {
      val sc = org.apache.spark.sql.internal.SQLConf.get
      Option(opts.get("hadro.branch")).filter(_.nonEmpty)
        .orElse(Option(sc.getConfString("spark.hadro.writeBranch", ""))
          .filter(_.nonEmpty))
    }
    private def bucketSpec: Option[(Seq[String], Int)] = {
      val cols = Option(opts.get("hadro.bucketBy")).filter(_.nonEmpty)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      val n = Option(opts.get("hadro.buckets")).filter(_.nonEmpty).map(_.toInt)
      (cols, n) match {
        case (Some(cs), Some(k)) =>
          require(k > 0, s"hadro.buckets must be positive, got $k")
          require(cs.nonEmpty, "hadro.bucketBy must name at least one column")
          Some((cs, k))
        case (None, None) => None
        case _ => throw new IllegalArgumentException(
          "hadro: hadro.bucketBy and hadro.buckets must be set together")
      }
    }

    // ------------------------------------------- required distribution
    // CATALOG-resolved writes into a bucketed table ask Spark to cluster
    // the input by the bucket transform with one partition per bucket, so
    // a plain INSERT produces exactly `n` segments instead of up to
    // tasks×n. Gated on viaCatalog: only there can Spark resolve the
    // transform (HadroCatalog is the FunctionCatalog) — a path-based
    // write must not require what the planner cannot resolve; its
    // writer-side routing still buckets correctly.
    private def declaredOrExplicitSpec: Option[(Seq[String], Int)] =
      bucketSpec.orElse(CollectionMeta.readSchema(path).flatMap(m =>
        for { c <- m.bucketBy; n <- m.numBuckets }
          yield (c.split(",").toSeq, n)))

    // Declared value partitioning (PARTITIONED BY (days(ts)) / identity):
    // catalog INSERTs cluster the input by the transform so a task
    // normally sees ONE partition value — a month's backfill produces
    // ~30 day-segments instead of tasks×30. Resolution of the time
    // transforms rides the same FunctionCatalog the bucket path uses.
    private def declaredPartitionSpec: Option[(String, String)] =
      CollectionMeta.readSchema(path).flatMap(m =>
        for { c <- m.partitionBy; t <- m.partitionTransform } yield (c, t))

    override def requiredDistribution(): Distribution =
      if (viaCatalog)
        declaredOrExplicitSpec match {
          case Some((cs, n)) =>
            Distributions.clustered(Array(Expressions.bucket(n, cs: _*)))
          case None => declaredPartitionSpec match {
            case Some((c, "identity")) =>
              Distributions.clustered(Array(Expressions.identity(c)))
            case Some((c, t)) =>
              Distributions.clustered(Array(
                Expressions.apply(t, Expressions.column(c))))
            case None => Distributions.unspecified()
          }
        }
      else Distributions.unspecified()

    override def requiredNumPartitions(): Int =
      if (viaCatalog) declaredOrExplicitSpec.map(_._2).getOrElse(0) else 0

    // Declared write order (TBLPROPERTIES 'sortedBy', catalog writes
    // only — a path write has no planner contract to enforce the sort,
    // so declaring it would record an order the data might not have):
    // Spark adds the within-partition Sort on ALL declared columns;
    // the manifest declares the LEADING column (a (c1, c2)-sorted run
    // is c1-sorted — the prefix declaration is sound, and single-column
    // is all the scan-side ordering report and range pruning consume).
    private def declaredWriteOrder: Option[Seq[String]] =
      if (viaCatalog)
        CollectionMeta.readWriteOrder(path)
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .filter(_.nonEmpty)
      else None

    override def requiredOrdering(): Array[SortOrder] =
      declaredWriteOrder match {
        case Some(cs) => cs.map(c => Expressions.sort(Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
        case None => Array.empty
      }

    // Write-side observability (SQL UI): rows/bytes/segments per write
    // job, reported from each task via DataWriter.currentMetricsValues.
    override def supportedCustomMetrics(): Array[
        org.apache.spark.sql.connector.metric.CustomMetric] = Array(
      new HadroRowsWrittenMetric, new HadroBytesWrittenMetric,
      new HadroSegmentsWrittenMetric)

    override def toBatch: BatchWrite = {
      require(replaceSpec.isEmpty || (!doTruncate && compactOf.isEmpty),
        "hadro: hadro.replaceFiles is append-mode-only and exclusive with hadro.compactOf")
      require(!doDynamicOverwrite ||
          (!doTruncate && replaceSpec.isEmpty && compactOf.isEmpty),
        "hadro: dynamic partition overwrite is exclusive with truncate/" +
          "replaceFiles/compactOf")
      require(replaceWhere.isEmpty ||
          (!doTruncate && !doDynamicOverwrite && replaceSpec.isEmpty &&
            compactOf.isEmpty),
        "hadro: REPLACE WHERE is exclusive with truncate/dynamic overwrite/" +
          "replaceFiles/compactOf")
      // `hadro.replaceWhere` option (the Delta-style shape for path-based
      // writes, where no catalog resolves `writeTo(...).overwrite(cond)`):
      // a SQL condition string that scopes mode("overwrite") to the
      // matching region. Requires overwrite mode — scoping an append is
      // a contradiction — and is parsed against the STORED schema at
      // plan time so a typo fails before any task runs.
      val rwOptionFilters = Option(opts.get("hadro.replaceWhere"))
        .filter(_.nonEmpty).map { cond =>
          require(replaceWhere.isEmpty && !doDynamicOverwrite &&
            replaceSpec.isEmpty && compactOf.isEmpty,
            "hadro: the hadro.replaceWhere option is exclusive with " +
              "overwrite-by-predicate/dynamic overwrite/replaceFiles/compactOf")
          require(doTruncate,
            "hadro: hadro.replaceWhere requires mode(\"overwrite\") — an " +
              "append cannot be scoped to a region")
          val stored = CollectionMeta.readSchema(path).map(_.schema)
            .getOrElse(info.schema())
          HadroReplaceWhere.parseCondition(cond, stored)
        }
      val rwFilters = rwOptionFilters.orElse(
        replaceWhere.map(ps => HadroReplaceWhere.toFilters(ps.toSeq)))
      branchSpec.foreach { b =>
        require(!doTruncate && !doDynamicOverwrite && replaceSpec.isEmpty &&
          rwFilters.isEmpty && compactOf.isEmpty,
          s"hadro: branch writes (branch '$b') are append-shaped only — " +
            "truncate/overwrite/replace rewrite main-line file sets and " +
            "have no staged meaning; publish first, then rewrite main")
      }
      new HadroBatchWrite(path, info.schema(), consistency, tombstone,
        upsert || tombstone || deleteCol.nonEmpty,
        doTruncate && rwOptionFilters.isEmpty, keyField,
        splitBytes, offsetIndex, deleteCol, compactOf, compactOfGen,
        maxSegmentBytes, bucketSpec, replaceSpec,
        // the manifest declares the LEADING column uniformly (the prefix
        // declaration single-column consumers read); the FULL list rides
        // sortColsFull below for composite bounds + ordering report
        sortedSpec.map(_.split(",").map(_.trim).filter(_.nonEmpty).head)
          .orElse(declaredWriteOrder.map(_.head)), compressSpec,
        dynamicOverwrite = doDynamicOverwrite,
        replaceWhere = rwFilters,
        mergeSchema = opts.getBoolean("hadro.mergeSchema", false),
        autoCompact = autoCompactSpec,
        branch = branchSpec,
        rewriteProvenance = opts.getBoolean("hadro.rewrite", false),
        // FULL declared sort list (not just the leading column): segment
        // writers capture composite lexicographic bounds from it
        sortColsFull = sortedSpec
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .orElse(declaredWriteOrder).getOrElse(Nil))
    }

    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      // Branch-scoped streaming (WAP over the main 100 TB write path):
      // each epoch's manifest commits onto the branch ref via the same
      // exactly-once machinery; main readers see nothing until
      // fast_forward/rebase publishes the staged snapshot.
      new HadroStreamingWrite(path, info.schema(), consistency,
        upsert || tombstone || deleteCol.nonEmpty, keyField, splitBytes,
        info.queryId(), offsetIndex, deleteCol,
        mergeSchema = opts.getBoolean("hadro.mergeSchema", false),
        autoCompact = autoCompactSpec,
        branch = branchSpec)
    }
  }
}

/** Driver-side write initialization shared by batch and streaming writes:
  * create the collection dir (reference engine.py:97) and validate/persist
  * the schema (the intended semantics of hadro/schema.py:65-79 — field-name
  * + type conformance, fail fast). */
private[graft] object HadroWriteInit {
  /** JVM-wide monitor for mergeSchema's serialized read-merge-write
    * (java.nio FileLock is per-JVM; threads need their own fence). */
  private[graft] object MergeSchemaLock

  def ensureSchema(path: Path, schema: StructType, tombstone: Boolean,
      keyField: Option[String], deleteCol: Option[String] = None,
      bucketSpec: Option[(Seq[String], Int)] = None,
      compressSpec: Option[String] = None,
      mergeSchema: Boolean = false): CollectionMeta.SchemaMeta = {
    Files.createDirectories(path)
    // the dropped-column marker prefix is reserved: a user column with it
    // would alias an invisible physical slot
    schema.fieldNames.foreach(n => require(!n.startsWith(CollectionMeta.DroppedPrefix),
      s"hadro: column name '$n' uses the reserved prefix ${CollectionMeta.DroppedPrefix}"))
    CollectionMeta.readSchema(path) match {
      case Some(meta0) =>
        // `hadro.mergeSchema=true`: fields the collection has never seen
        // are ADDED (nullable, appended after the stored layout — exactly
        // `addColumn` without a default) before validation, so a pipeline
        // whose upstream grew a column keeps flowing without a manual
        // ALTER. Additive only — type changes still fail below, and the
        // per-segment nFields machinery (schema evolution) makes old
        // segments null-fill the new slots. Same last-writer-wins
        // schema-file semantics as concurrent addColumn DDL.
        val meta = if (mergeSchema) {
          val wantNew = schema.fields.exists(f =>
            !deleteCol.contains(f.name) &&
              !meta0.schema.fieldNames.contains(f.name))
          if (!wantNew) meta0
          else {
            // Serialized read-merge-write (the admission-bloom discipline):
            // two concurrent merging writers each do read → append column →
            // swap, so without a lock the second publish would DISCARD
            // the first's column while its data segments were already
            // written at the wider nFields — later decodes would misalign.
            // The cross-process lock rides FileIO.withFileLock (flock
            // locally, conditional-PUT lease on object-store semantics);
            // the JVM monitor serializes driver threads.
            val lockPath = CollectionMeta.schemaLockFile(path)
            HadroWriteInit.MergeSchemaLock.synchronized {
              graft.meta.FileIO.impl.withFileLock(lockPath) {
                // re-read under the lock: pick up columns a concurrent
                // merge published since our first read
                val cur = CollectionMeta.readSchema(path).getOrElse(meta0)
                val newFields = schema.fields.filterNot(f =>
                  deleteCol.contains(f.name) ||
                    cur.schema.fieldNames.contains(f.name))
                newFields.foreach(f => require(!f.name.startsWith("_hadro_"),
                  s"hadro: mergeSchema cannot add reserved column '${f.name}'"))
                if (newFields.nonEmpty)
                  CollectionMeta.writeSchema(path,
                    StructType(cur.schema.fields ++ newFields.map(f =>
                      f.copy(nullable = true,
                        metadata = org.apache.spark.sql.types.Metadata.empty))),
                    cur.keyField, cur.bucketBy, cur.numBuckets,
                    cur.compress, cur.partitionBy, cur.partitionTransform,
                    cur.priorPartitionTransforms)
              }
            }
            CollectionMeta.readSchema(path).get
          }
        } else meta0
        // the codec is a creation-time property; silently diverging would
        // fork the collection into mixed intent
        compressSpec.foreach { c =>
          val stored = meta.compress.getOrElse("none")
          require(stored == c,
            s"hadro: collection compression is '$stored', " +
              s"cannot change to '$c' after creation")
        }
        val stored = meta.schema
        schema.fields.filterNot(f => deleteCol.contains(f.name)).foreach { f =>
          val sf = stored.fields.find(_.name == f.name).getOrElse(
            throw new IllegalArgumentException(
              s"hadro: field '${f.name}' not in collection schema ${stored.simpleString}"))
          require(sf.dataType == f.dataType,
            s"hadro: field '${f.name}' type ${f.dataType.simpleString} != stored ${sf.dataType.simpleString}")
        }
        if (!tombstone) // tombstones may carry a key-only projection
          stored.fields.filterNot(_.nullable).foreach { sf =>
            require(schema.fieldNames.contains(sf.name),
              s"hadro: non-nullable field '${sf.name}' missing from write schema")
          }
        meta
      case None =>
        require(deleteCol.isEmpty,
          "hadro: hadro.deleteCol requires an existing collection (CDC merge)")
        keyField.foreach { k =>
          require(schema.fieldNames.contains(k), s"hadro: key field '$k' not in schema")
        }
        CollectionMeta.writeSchema(path, schema, keyField,
          bucketSpec.map(_._1.mkString(",")), bucketSpec.map(_._2),
          compressSpec.filterNot(_ == "none"))
        CollectionMeta.readSchema(path).get
    }
  }

  /** Parse, ANALYZE (full type coercion + builtin functions) and BIND one
    * CHECK-constraint expression against the stored physical schema —
    * driver-side (the analyzer lives there); the bound expression is
    * serializable and ships to writer tasks. Fails fast on unparseable,
    * non-boolean, non-deterministic, or unknown-column expressions. */
  def bindConstraint(stored: StructType, name: String,
      text: String): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val spark = org.apache.spark.sql.SparkSession.active
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      CollectionMeta.logicalSchema(stored))
    val cond =
      try {
        val parsed = spark.sessionState.sqlParser.parseExpression(text)
        val analyzed = spark.sessionState.analyzer.execute(
          Filter(parsed, LocalRelation(attrs)))
        analyzed.collectFirst { case f: Filter => f.condition }.getOrElse(
          throw new IllegalArgumentException("did not analyze to a predicate"))
      } catch {
        case e: Exception => throw new IllegalArgumentException(
          s"hadro: CHECK constraint '$name' ($text) is invalid: ${e.getMessage}")
      }
    // analyzer.execute alone does NOT raise UNRESOLVED_COLUMN (that is
    // CheckAnalysis's job) — an unresolved or non-boolean expression must
    // fail HERE, at DDL time, not inside codegen on the first insert
    require(cond.resolved,
      s"hadro: CHECK constraint '$name' ($text) references unknown columns " +
        s"or functions")
    require(cond.dataType == org.apache.spark.sql.types.BooleanType,
      s"hadro: CHECK constraint '$name' ($text) must be a BOOLEAN " +
        s"expression, got ${cond.dataType.simpleString}")
    require(cond.deterministic,
      s"hadro: CHECK constraint '$name' must be deterministic, got $text")
    // Bind against the FULL physical schema (dropped slots included) so
    // ordinals match projected writer rows; logical attrs resolve by name.
    val physAttrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(stored)
    val byName = physAttrs.map(a => a.name -> a).toMap
    val rebased = cond.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        byName(a.name)
    }
    BindReferences.bindReference(rebased, AttributeSeq(physAttrs))
  }

  /** All of a collection's CHECK constraints, analyzed and bound — what
    * every batch/streaming/CoW write enforces per row. */
  def resolvedConstraints(path: Path, stored: StructType)
      : Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] =
    CollectionMeta.readConstraints(path).toSeq.sortBy(_._1)
      .map { case (n, text) => n -> bindConstraint(stored, n, text) }

  /** Resolve the declared partition transform (if any) against the
    * stored schema: (source ordinal, transform name). */
  def partitionOrdSpec(meta: CollectionMeta.SchemaMeta,
      storedSchema: StructType): Option[(Int, String)] =
    for { c <- meta.partitionBy; t <- meta.partitionTransform } yield {
      val ord = storedSchema.fieldNames.indexOf(c)
      require(ord >= 0, s"hadro: partition column '$c' not in collection schema")
      (ord, t)
    }

  /** Resolve + type-check bucket columns against the stored schema. */
  def bucketOrdinals(storedSchema: StructType, cols: Seq[String]): Seq[Int] =
    cols.map { c =>
      val ord = storedSchema.fieldNames.indexOf(c)
      require(ord >= 0, s"hadro: bucket column '$c' not in collection schema")
      storedSchema(ord).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.StringType => ()
        case dt => throw new IllegalArgumentException(
          s"hadro: bucketBy supports long/int/string columns, '$c' is ${dt.simpleString}")
      }
      ord
    }

  /** Named composite indexes registered on the collection: every new
    * segment carries their bloom sidecars from birth (resolved to
    * ordinals once, driver-side). */
  def indexOrdinals(path: Path, storedSchema: StructType): Map[String, Seq[Int]] =
    CollectionMeta.currentManifest(path).indexes.flatMap { case (n, fields) =>
      if (fields.forall(storedSchema.fieldNames.contains))
        Some(n -> fields.map(storedSchema.fieldIndex))
      else None
    }
}

/** A partial-rewrite replace commit: the write's new segments replace
  * `files`, valid only while the manifest still carries pinned generation
  * `gen`. `expectedDv` records each replaced file's deletion-vector
  * sidecar at PLAN time — a commit observing different dv state conflicts
  * (a concurrent dv DELETE landed whose rows this rewrite did not fold
  * in; replacing the file would resurrect them). Empty map = no check
  * (caller predates vectors or proved none can exist). */
final case class ReplaceSpec(files: Seq[String], gen: Long,
    expectedDv: Map[String, Option[String]] = Map.empty,
    // `hadro.replaceIfUnmutated`: conflict if the collection became
    // keyed-mutated since the rewrite was planned. Plain appends flip
    // `mutated` WITHOUT a generation bump, so the generation check alone
    // cannot see a first concurrent upsert — but an order-scrambling
    // merge planned under append-only assumptions must not commit once
    // LWW resolution is in play (see Collection.compactPartitions).
    requireUnmutated: Boolean = false)

object HadroBatchWrite {
  /** Plan-time REPLACE WHERE state: the compiled region, the pinned
    * (file, dv) identity of every segment the classification placed
    * inside (dropped at commit) or straddling (row-level vectored at
    * commit, rowLevel mode only), and the mode. The pins are the commit
    * drift guard — commit re-classifies and must reproduce them. */
  private[spark] final case class ReplaceWherePlan(
      region: HadroReplaceWhere.RegionExpr,
      insidePin: Seq[(String, Option[String])],
      straddlePin: Seq[(String, Long, Option[String])],
      rowLevel: Boolean)
}

final class HadroBatchWrite(path: Path, schema: StructType,
    consistency: Consistency.Value, tombstone: Boolean, mutating: Boolean,
    truncate: Boolean, keyField: Option[String],
    splitBytes: Long = SegmentWriter.DefaultSplitBytes,
    offsetIndex: Boolean = true,
    deleteCol: Option[String] = None,
    compactOf: Option[Long] = None,
    compactOfGen: Option[Long] = None,
    maxSegmentBytes: Long = 0L,
    bucketSpec: Option[(Seq[String], Int)] = None,
    replaceSpec: Option[ReplaceSpec] = None,
    sortedSpec: Option[String] = None,
    compressSpec: Option[String] = None,
    dynamicOverwrite: Boolean = false,
    replaceWhere: Option[Seq[org.apache.spark.sql.sources.Filter]] = None,
    mergeSchema: Boolean = false,
    autoCompact: Option[(Long, Int)] = None,
    branch: Option[String] = None,
    sortColsFull: Seq[String] = Nil,
    // `hadro.rewrite` — the maintenance verbs' declaration that this
    // commit is a DATA-PRESERVING rewrite: its segments are marked
    // `rewritten` so changes-window chain walks can treat the commit as
    // transparent (cross-checked against row-count conservation there).
    rewriteProvenance: Boolean = false)
    extends BatchWrite with org.apache.spark.internal.Logging {

  require(!rewriteProvenance || compactOf.isDefined || replaceSpec.isDefined,
    "hadro: hadro.rewrite is reserved for data-preserving maintenance " +
      "rewrites (compactOf / replaceFiles commits) — an ingest or " +
      "replace-region write must not claim rewrite provenance")

  private val storedMeta = HadroWriteInit.ensureSchema(path, schema, tombstone,
    keyField, deleteCol, bucketSpec, compressSpec, mergeSchema)
  private val storedSchema: StructType = storedMeta.schema
  private val indexOrdinals = HadroWriteInit.indexOrdinals(path, storedSchema)
  // Explicit options win; otherwise the spec DECLARED on the collection
  // (schema.json — e.g. SQL `PARTITIONED BY (bucket(n, col))`) applies,
  // so plain `INSERT INTO` keeps a bucketed table join-ready.
  private val effectiveBucketSpec: Option[(Seq[String], Int)] = bucketSpec.orElse(
    for { c <- storedMeta.bucketBy; n <- storedMeta.numBuckets }
      yield (c.split(",").toSeq, n))
  // Resolve the bucket columns against the STORED schema (rows are
  // projected onto it before bucketing) and restrict to the types whose
  // xxhash64 semantics we reproduce writer-side.
  private val bucketOrdSpec: Option[(Seq[Int], Int)] =
    effectiveBucketSpec.map { case (cs, n) =>
      (HadroWriteInit.bucketOrdinals(storedSchema, cs), n)
    }

  // Declared value partitioning: every write path consults the schema
  // spec (like compression), so plain appends keep the layout.
  private val partitionOrdSpec: Option[(Int, String)] =
    HadroWriteInit.partitionOrdSpec(storedMeta, storedSchema)

  // CHECK constraints, analyzed + bound on the driver once per write job
  private val constraints = HadroWriteInit.resolvedConstraints(path, storedSchema)

  // Dynamic partition overwrite pin, captured at PLAN time (driver, before
  // any task runs): the per-partition file+dv state of every live segment.
  // At commit, partitions this write replaces must still match the pin —
  // a concurrent append/compaction/dv-delete inside a replaced partition
  // conflicts (its rows would be silently dropped with the old files);
  // partitions the write does NOT touch may drift freely (concurrent
  // appends to other days commute with the overwrite).
  private val dynamicPin: Option[Map[Option[String], Seq[(String, Option[String])]]] =
    if (!dynamicOverwrite) None
    else {
      require(partitionOrdSpec.isDefined,
        "hadro: dynamic partition overwrite requires declared value " +
          "partitioning (PARTITIONED BY (days(ts)) / identity); bucketed " +
          "or unpartitioned collections use static INSERT OVERWRITE")
      val m = CollectionMeta.currentManifest(path)
      // NEVER-mutated keyed collections are fine: they scan unresolved
      // (row-bag semantics), so dropping a partition deletes exactly its
      // rows — and a later upsert's resolution sees only survivors,
      // which is the row-predicate-delete contract.
      require(!m.mutated,
        "hadro: dynamic partition overwrite supports pure-append " +
          "collections only — under upserts/deletes a replaced partition " +
          "could carry the newest version or tombstone of a key whose " +
          "other rows live elsewhere")
      Some(m.segments.groupBy(_.partition)
        .map { case (t, ss) => t -> ss.map(s => (s.file, s.deleteVector)) })
    }

  // REPLACE WHERE: compile the predicate region and classify every live
  // segment at PLAN time — provably inside (replaced) or provably
  // disjoint (kept); anything else fails fast with guidance before a
  // single task runs. The pinned (file, dv) list of the inside set is the
  // drift guard: at commit the classification re-runs against the current
  // manifest and must produce the same inside set, so a concurrent append
  // into the region (its rows would vanish with the old files), a dv
  // delete, or a compaction conflicts and aborts. Disjoint partitions
  // drift freely — appends elsewhere commute with the overwrite.
  private val replaceWherePin: Option[HadroBatchWrite.ReplaceWherePlan] =
    replaceWhere.map { preds =>
      val iv = HadroReplaceWhere.compile(preds, storedSchema)
      val m = CollectionMeta.currentManifest(path)
      // NEVER-mutated keyed collections are fine: they scan unresolved
      // (row-bag semantics), so replacing the region deletes exactly the
      // matching rows — and a later upsert's resolution sees only
      // survivors, which is the row-predicate-delete contract.
      require(!m.mutated,
        "hadro: REPLACE WHERE supports pure-append collections only — " +
          "under upserts/deletes a replaced segment could carry the newest " +
          "version or tombstone of a key whose other rows live elsewhere")
      // `spark.hadro.overwrite.mode=rowlevel` (opt-in, like delete.mode):
      // straddling segments stop being a refusal — the predicate is
      // evaluated per row and matches are DELETION-VECTORED in the same
      // commit, making REPLACE WHERE exact for ARBITRARY translatable
      // predicates; the inside/disjoint proofs remain as optimizations
      // (drop whole / never scan). Default stays the strict whole-segment
      // contract (a refusal names the unprovable segment).
      val rowLevel = org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.hadro.overwrite.mode", "segment") match {
        case "rowlevel" => true
        case "segment" => false
        case other => throw new IllegalArgumentException(
          s"hadro: spark.hadro.overwrite.mode must be segment|rowlevel, got '$other'")
      }
      val (inside, _, straddle) = HadroReplaceWhere.split3(m.segments, iv)
      if (!rowLevel && straddle.nonEmpty) {
        val why = if (HadroReplaceWhere.hasOpaque(iv))
          "the predicate has no manifest-stats proof form" else
          s"its manifest bounds on ${HadroReplaceWhere.cols(iv).map("'" + _ + "'").mkString(", ")} cannot place it"
        throw new IllegalArgumentException(
          s"hadro: REPLACE WHERE cannot prove segment ${straddle.head.file} " +
            s"wholly inside or outside the region — $why. Align the " +
            "predicate to the partition/cluster layout (whole partitions, " +
            "boundary-aligned ranges), set " +
            "spark.hadro.overwrite.mode=rowlevel (deletion-vector the " +
            "matching rows), or run DELETE then append")
      }
      HadroBatchWrite.ReplaceWherePlan(iv,
        inside.map(s => (s.file, s.deleteVector)),
        straddle.map(s => (s.file, s.ordinal, s.deleteVector)),
        rowLevel)
    }

  /** Row-level REPLACE WHERE: build one deletion-vector sidecar per
    * straddling segment covering exactly the predicate-matching rows —
    * the [[HadroDeleteSupport]] dv-build shape (one executor task per
    * segment, union with the pinned existing vector), but the COMMIT is
    * deferred to this write's own closure so drop-inside + vector-
    * straddlers + append-batch stay one atomic manifest publish.
    * Returns ordinal -> (sidecar name, total vectored rows). */
  private def buildReplaceWhereVectors(
      plan: HadroBatchWrite.ReplaceWherePlan): Map[Long, (String, Long)] = {
    import org.apache.spark.sql.{Encoders, functions => F}
    val spark = org.apache.spark.sql.SparkSession.active
    val cond = replaceWhere.get
      .map(HadroDeleteSupport.toColumn).reduce(_ && _)
    val seqc = F.col(HadroTable.SeqCol)
    val mask = (1L << HadroTable.SeqOrdinalShift) - 1
    val dirStr = path.toString
    val existing: Map[Long, String] =
      plan.straddlePin.flatMap { case (_, ord, dv) => dv.map(ord -> _) }.toMap
    val segFiles: Map[Long, String] =
      plan.straddlePin.map { case (f, ord, _) => ord -> f }.toMap
    val buildId = java.lang.Long.toHexString(System.nanoTime())
    spark.read.format("hadro")
      .option("hadro.files", plan.straddlePin.map(_._1).mkString(","))
      .load(dirStr)
      .filter(cond)
      .select(
        F.call_function("shiftright", seqc, F.lit(HadroTable.SeqOrdinalShift)).as("ord"),
        seqc.bitwiseAND(F.lit(mask)).as("row"))
      .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .groupByKey(_._1)(Encoders.scalaLong)
      .mapGroups { (ord, it) =>
        val base = Paths.get(dirStr)
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
      .map { case (ord, name, total) => ord -> ((name, total)) }.toMap
  }

  // Composite write-order spec for the segment writers: (name, stored
  // ordinal) pairs, only when >= 2 columns all resolve. Single-column
  // orders need nothing beyond the per-column stats.
  private val sortOrdSpec: Seq[(String, Int)] =
    if (sortColsFull.length >= 2 &&
        sortColsFull.forall(storedSchema.fieldNames.contains))
      sortColsFull.map(c => c -> storedSchema.fieldIndex(c))
    else Nil

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new HadroWriterFactory(path.toString, storedSchema, schema, consistency, tombstone,
      storedMeta.keyField.map(storedSchema.fieldIndex), splitBytes, indexOrdinals,
      offsetIndex, deleteCol, maxSegmentBytes, bucketOrdSpec, constraints,
      partitionOrdSpec, sortOrdSpec)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val segs0 = messages.collect { case m: HadroCommitMessage => m.infos }
      .flatten.filter(_.rows > 0)
    val segs =
      if (rewriteProvenance) segs0.map(_.copy(rewritten = true)) else segs0
    // An empty non-truncating write is a no-op: publishing a version would
    // only churn metadata, and an empty UPSERT/merge would flip a
    // pure-append collection's `mutated` bit — permanently disabling its
    // resolution-free fast paths — without writing a single record.
    // (A replace commit with zero new segments is NOT a no-op: it still
    // removes the replaced files — a DELETE that emptied them.)
    // (A REPLACE WHERE with zero new segments is a region-delete: it
    // still drops the replaced files.)
    if (segs.isEmpty && !truncate && replaceSpec.isEmpty &&
      replaceWherePin.isEmpty) return
    var conflicted = false

    def replaceCommit(cur: graft.meta.Manifest, files: Seq[String],
        gen: Long, expectedDv: Map[String, Option[String]],
        requireUnmutated: Boolean = false): graft.meta.Manifest = {
      val fileSet = files.toSet
      // A deletion-vector commit landing between this rewrite's plan and
      // its commit changes neither generation nor file identity, but the
      // rewrite's output was derived WITHOUT those deletions — replacing
      // the file would silently resurrect the vectored rows. Callers pass
      // each replaced file's plan-time dv sidecar; any drift conflicts.
      val dvMoved = expectedDv.nonEmpty && cur.segments.exists(s =>
        fileSet(s.file) && expectedDv.get(s.file).exists(_ != s.deleteVector))
      if (cur.generation != gen || dvMoved ||
          (requireUnmutated && cur.mutated) ||
          !fileSet.subsetOf(cur.segments.map(_.file).toSet)) {
        // a concurrent truncate/compaction/replace no longer carries the
        // files this rewrite covered — abandoning is the only safe move
        conflicted = true
        cur
      } else {
        conflicted = false
        val firstIdx = cur.segments.indexWhere(s => fileSet(s.file))
        val before = cur.segments.take(firstIdx)
        val after = cur.segments.drop(firstIdx).filterNot(s => fileSet(s.file))
        // Re-number ordinals in the new order: relative order of every
        // surviving record is preserved (new segments sit exactly where
        // the replaced run sat), so last-write-wins is untouched; the
        // generation bump tells tailing streams the ordinal space moved.
        var ord = 0L
        val reordered = (before ++ segs ++ after)
          .map { s => val o = ord; ord += 1; s.copy(ordinal = o) }
        // Bucket spec: kept unless this write declared a CONFLICTING one
        // (rewrites of a bucketed collection pass the recorded spec so
        // their new segments carry fresh, correct tags).
        val specConflict = effectiveBucketSpec.exists { case (cs, n) =>
          !(cur.bucketBy.contains(cs.mkString(",")) && cur.numBuckets.contains(n))
        }
        cur.copy(
          segments = reordered,
          mutated = cur.mutated || mutating,
          generation = cur.generation + 1,
          ordinalFloor = 0L, // ordinal space restarted; generation says so
          bucketBy = if (specConflict) None else cur.bucketBy,
          numBuckets = if (specConflict) None else cur.numBuckets,
          // a rewrite keeps the declared sort only if it re-declares it
          sortedBy = if (sortedSpec == cur.sortedBy) cur.sortedBy else None)
      }
    }

    // Dynamic partition overwrite: one atomic commit drops every live
    // segment of the partitions present in the batch and appends the new
    // segments. Untouched partitions keep their files by reference.
    // Ordinals are re-numbered and the generation bumps, exactly like a
    // replace commit — segments were removed mid-log, so tailing streams
    // must see the discontinuity rather than misread surviving ordinals.
    def dynamicOverwriteCommit(cur: graft.meta.Manifest,
        pin: Map[Option[String], Seq[(String, Option[String])]]): graft.meta.Manifest = {
      // every new segment is tagged by writer-side routing (the pin
      // required a declared transform); an untagged one is a bug here,
      // not a user conflict
      require(segs.forall(_.partition.isDefined),
        "hadro: dynamic overwrite produced an untagged segment")
      val newTags: Set[Option[String]] = segs.map(_.partition).toSet
      // Spec drift re-checked INSIDE the commit closure: a respec landing
      // between this write's plan and its commit re-routes concurrent
      // inserts under the NEW (finer) spec — their segments carry tags the
      // plan-time pin never saw, so neither the per-partition drift check
      // (tag equality misses them) nor the overlap guard below (the
      // plan-time schema predates the respec, so the history looks empty)
      // would catch rows landing inside a "replaced" partition. The spec
      // is commit-relevant state exactly like the manifest generation;
      // compare the full (column, transform, history) triple.
      val metaNow = CollectionMeta.readSchema(path)
      val specDrift = !metaNow.exists(m =>
        m.partitionBy == storedMeta.partitionBy &&
          m.partitionTransform == storedMeta.partitionTransform &&
          m.priorPartitionTransforms == storedMeta.priorPartitionTransforms)
      val drift = cur.mutated || specDrift || newTags.exists { t =>
        cur.segments.filter(_.partition == t)
          .map(s => (s.file, s.deleteVector)) != pin.getOrElse(t, Seq.empty)
      }
      // Cross-spec overlap guard: after a partition-spec respec, a KEPT
      // segment still tagged under the PRIOR (coarser) spec can contain
      // rows that fall inside a partition this write replaces under the
      // CURRENT spec — dropping only the current-spec segments would
      // leave those rows in place and the "replaced" partition would
      // read back as stale-plus-new. Prove disjointness from each kept
      // segment's exact stats bounds (both bounds mapped through the
      // current transform — the writer's own tag arithmetic); a kept
      // segment whose ordinal range touches a replaced ordinal, or whose
      // stats can't prove anything, conflicts: migrate the old partition
      // first (compactPartitions(tag) re-routes it under the current
      // spec). Only time-transform respecs have history, so the guard is
      // free everywhere else.
      val specOverlap = storedMeta.priorPartitionTransforms.nonEmpty &&
        partitionOrdSpec.exists { case (ord, transform) =>
          val pCol = storedSchema.fieldNames(ord)
          val dt = storedSchema(ord).dataType
          val replacedOrds = newTags.flatten.flatMap(_.toLongOption)
          val keep = cur.segments.filterNot(s => newTags.contains(s.partition))
          replacedOrds.nonEmpty && keep.exists { s =>
            s.partition.exists(_ != "__null__") && {
              val range = s.stats.get(pCol).flatMap { st =>
                if (st.exact && st.nullCount == 0L && st.min.isDefined && st.max.isDefined)
                  try {
                    def ordOf(bound: String): Long = HadroPartition.tagOf(dt,
                      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                        Array[Any](graft.format.StatsCollector.parse(bound, dt))),
                      0, transform).toLong
                    Some((ordOf(st.min.get), ordOf(st.max.get)))
                  } catch { case _: Exception => None }
                else None
              }
              range match {
                case Some((lo, hi)) => replacedOrds.exists(o => o >= lo && o <= hi)
                case None => true // cannot prove disjoint — conservative
              }
            }
          }
        }
      if (drift || specOverlap) { conflicted = true; cur }
      else {
        conflicted = false
        val keep = cur.segments.filterNot(s => newTags.contains(s.partition))
        var ord = 0L
        val reordered = (keep ++ segs)
          .map { s => val o = ord; ord += 1; s.copy(ordinal = o) }
        cur.copy(
          segments = reordered,
          mutated = cur.mutated || mutating,
          generation = cur.generation + 1,
          ordinalFloor = 0L,
          // partition-routed collections are not bucketed/sorted; if a
          // spec is somehow recorded, a partial rewrite can't prove it
          // still holds uniformly — keep bucket tags (unchanged files)
          // but clear the declared sort unless re-declared
          sortedBy = if (sortedSpec == cur.sortedBy) cur.sortedBy else None)
      }
    }

    // REPLACE WHERE: drop the region's pinned segments, append the batch,
    // one commit. The safety argument re-runs INSIDE the commit closure
    // (the round-10 lesson): classification against the CURRENT manifest
    // must reproduce the plan-time inside set exactly — a concurrent
    // append that landed inside the region, a segment that now straddles
    // it, a dv delete, or a first upsert (`mutated`, no generation bump)
    // all conflict; drift outside the region commutes and is kept by
    // reference. Replace-commit semantics on success: renumber +
    // generation bump, so tailing streams see the discontinuity.
    // Row-level REPLACE WHERE: build the straddlers' vectors BEFORE the
    // commit closure (they are files on disk; only the manifest flip is
    // the commit). A conflict cleans them up like an abandoned dv delete.
    val rwVectors: Map[Long, (String, Long)] = replaceWherePin match {
      case Some(plan) if plan.rowLevel && plan.straddlePin.nonEmpty =>
        buildReplaceWhereVectors(plan)
      case _ => Map.empty
    }
    def cleanupRwVectors(): Unit = rwVectors.values.foreach { case (name, _) =>
      try Files.deleteIfExists(path.resolve(name))
      catch { case _: Exception => () }
    }

    def replaceWhereCommit(cur: graft.meta.Manifest,
        plan: HadroBatchWrite.ReplaceWherePlan): graft.meta.Manifest = {
      val (inside, _, straddle) = HadroReplaceWhere.split3(cur.segments, plan.region)
      val straddleNow = straddle.map(s => (s.file, s.ordinal, s.deleteVector))
      if (cur.mutated ||
        inside.map(s => (s.file, s.deleteVector)) != plan.insidePin ||
        straddleNow != plan.straddlePin) {
        // a concurrent commit changed the region's segments (append into
        // the region, dv delete, rewrite, or a new straddler appeared) —
        // the pinned classification no longer describes reality
        conflicted = true; cur
      } else {
        conflicted = false
        val insideFiles = inside.map(_.file).toSet
        var ord = 0L
        val reordered = (cur.segments.filterNot(s => insideFiles(s.file))
          .map { s =>
            rwVectors.get(s.ordinal) match {
              case Some((name, total)) =>
                s.copy(deleteVector = Some(name), dvDeletes = total)
              case None => s
            }
          } ++ segs)
          .map { s => val o = ord; ord += 1; s.copy(ordinal = o) }
        cur.copy(
          segments = reordered,
          mutated = cur.mutated || mutating,
          generation = cur.generation + 1,
          ordinalFloor = 0L,
          // a partial rewrite can't prove a declared sort still holds
          // uniformly unless this write re-declares it
          sortedBy = if (sortedSpec == cur.sortedBy) cur.sortedBy else None)
      }
    }

    // Branch (write-audit-publish) commits base on the BRANCH head and
    // publish flagged manifests main readers skip; everything else is the
    // identical append closure. Non-append modes were refused at build.
    def runCommit(update: graft.meta.Manifest => graft.meta.Manifest) =
      branch match {
        case Some(b) => CollectionMeta.commitOnBranch(path, b, update)
        case None => CollectionMeta.commit(path, update)
      }
    runCommit(cur => (replaceSpec, dynamicPin) match {
      case (Some(ReplaceSpec(files, gen, dv, reqUnmut)), _) =>
        replaceCommit(cur, files, gen, dv, reqUnmut)
      case (None, Some(pin)) => dynamicOverwriteCommit(cur, pin)
      case (None, None) if replaceWherePin.isDefined =>
        replaceWhereCommit(cur, replaceWherePin.get)
      case (None, None) =>
      // A compaction is a rewrite of ONE pinned snapshot: segments that
      // committed after it (concurrent appends/upserts) are NOT part of
      // the rewrite and must survive, re-ordered AFTER the rewritten data
      // so last-write-wins keeps seeing them as newer. A plain overwrite
      // (no pin) replaces everything — that is its contract.
      val preserved: Seq[SegmentInfo] = compactOf match {
        case Some(v0) if truncate =>
          val expectedGen = compactOfGen.getOrElse(0L)
          if (cur.generation != expectedGen) {
            // a concurrent TRUNCATE landed mid-compaction: this rewrite
            // would resurrect data the truncate explicitly dropped —
            // decline the commit and fail the job instead
            conflicted = true
            Seq.empty
          } else {
            try {
              val o = CollectionMeta.manifestAt(path, v0)
              // dv drift since the pin: the rewrite resolved rows as of v0,
              // so a deletion vector committed after it would be silently
              // undone by dropping the file — abort and let the caller
              // re-run against the fresh manifest.
              val pinnedDv = o.segments.map(s => s.file -> s.deleteVector).toMap
              val dvMoved = cur.segments.exists(s =>
                pinnedDv.get(s.file).exists(_ != s.deleteVector))
              if (dvMoved) { conflicted = true; Seq.empty }
              else {
              conflicted = false
              val rewritten = o.segments.map(_.file).toSet
              cur.segments.filterNot(s => rewritten.contains(s.file))
              }
            } catch {
              case _: Exception =>
                // the pinned manifest is gone (>KeepVersions commits since
                // the pin): we can no longer tell which segments the
                // rewrite covered — abort rather than guess
                conflicted = true
                Seq.empty
            }
          }
        case _ => Seq.empty
      }
      if (conflicted) cur
      else {
        val base = if (truncate) Seq.empty[SegmentInfo] else cur.segments
        var ord = if (truncate) 0L else cur.nextOrdinal
        val withOrdinals = (segs ++ preserved).map { s => val o = ord; ord += 1; s.copy(ordinal = o) }
        // Bucketing spec: a bucketed (truncating or first) write records
        // it; a bucketed write whose spec CONFLICTS with the recorded one
        // clears it — old segments' tags were computed under the old spec,
        // so the collection is no longer uniformly bucketed and scans must
        // stop reporting KeyGroupedPartitioning. Non-bucketed appends keep
        // the spec (their untagged segments already disable reporting).
        val (bBy, bN) = effectiveBucketSpec match {
          case Some((cs, n)) =>
            val joined = cs.mkString(",")
            if (truncate || cur.bucketBy.isEmpty ||
              (cur.bucketBy.contains(joined) && cur.numBuckets.contains(n)))
              (Some(joined), Some(n))
            else (None, None)
          case None => (cur.bucketBy, cur.numBuckets)
        }
        // Declared physical sort: a truncating rewrite establishes what it
        // declares (unless concurrent segments were preserved — those are
        // not sorted); an append keeps the recorded sort only when it
        // re-declares the same one (each new segment is then sorted too,
        // which is all per-partition ordering needs); anything else clears.
        val sBy =
          if (truncate) { if (preserved.isEmpty) sortedSpec else None }
          else if (cur.segments.isEmpty) sortedSpec
          else if (sortedSpec == cur.sortedBy) cur.sortedBy
          else None
        cur.copy(
          segments = base ++ withOrdinals,
          mutated = (cur.mutated && (!truncate || preserved.nonEmpty)) || mutating,
          // ordinals restart at 0: bump the generation so tailing streams
          // detect the discontinuity instead of misreading new ordinals
          generation = if (truncate) cur.generation + 1 else cur.generation,
          ordinalFloor = if (truncate) 0L else cur.ordinalFloor,
          bucketBy = bBy,
          numBuckets = bN,
          sortedBy = sBy)
      }
    })
    published = !conflicted
    if (conflicted) {
      if (replaceSpec.isDefined) {
        abort(messages) // clean up the orphaned new segment files
        throw new CommitConflictException(
          s"hadro: partial rewrite of $path conflicted with a concurrent " +
            "truncate/compaction/rewrite — the replace was abandoned; " +
            "re-plan against the current manifest and retry")
      }
      if (dynamicPin.isDefined) {
        abort(messages) // clean up the orphaned new segment files
        throw new CommitConflictException(
          s"hadro: dynamic partition overwrite of $path conflicted — a " +
            "concurrent commit changed a partition this write replaces " +
            "(its rows would be dropped with the old files); the " +
            "overwrite was abandoned, re-run against the current state")
      }
      if (replaceWherePin.isDefined) {
        abort(messages) // clean up the orphaned new segment files
        cleanupRwVectors()
        throw new CommitConflictException(
          s"hadro: REPLACE WHERE on $path conflicted — a concurrent " +
            "commit changed the replaced region (rows would be dropped " +
            "with the old files, or a segment now straddles the " +
            "boundary); the overwrite was abandoned, re-run against the " +
            "current state")
      }
      throw new CommitConflictException(
        s"hadro: compaction of $path conflicted with a concurrent " +
          "truncate/overwrite — the rewrite was abandoned; retry if still needed")
    }
    if (truncate || replaceSpec.isDefined || dynamicPin.isDefined ||
      replaceWherePin.isDefined) {
      // Physical file deletion is DEFERRED one generation
      // (CollectionMeta.deferredGc) so a reader that planned against an
      // older manifest still finds its segment files on disk. The dynamic
      // overwrite path removes the replaced partitions' segments from the
      // manifest, so it must record them dead like any other replace —
      // otherwise a daily overwrite leaks each day's old files forever.
      val m = CollectionMeta.currentManifest(path)
      val live = m.segments.flatMap(_.allFiles).toSet
      CollectionMeta.deferredGc(path, live)
      // Manifest history: GC'd only on a DATA-DESTROYING truncate
      // (overwrite — the old log's rows are gone; retained manifests
      // would only ever fail). A COMPACTION (truncate path with a
      // compactOf pin) and a partial REPLACE (CoW delete/update/merge,
      // compactSmall bins) keep every retained manifest: the superseded
      // segment files survive one deferred generation, so `VERSION AS OF`
      // and rollback across the rewrite keep working — the Delta/Iceberg
      // retention shape — and once the files are physically purged,
      // manifestAt fail-fasts with its documented crosses-a-rewrite
      // error. Retained metadata is also what lets a changes-window walk
      // the in-window manifest chain and read THROUGH a compaction.
      // Bounded growth is unchanged: gcOldManifests ages out manifests
      // beyond KeepVersions regardless.
      if (truncate && compactOf.isEmpty)
        CollectionMeta.gcManifestsBefore(path, m.version)
    }
    // Auto-compaction (opt-in, Delta autoCompact shape): after a
    // successful PLAIN APPEND, if the manifest now holds >= minSegments
    // segments under minBytes, pack them through compactSmall's atomic
    // replace bins — the small-file count stays bounded without an
    // external scheduler, and the minSegments gate bounds write
    // amplification (a tiny tail is not re-packed on every append).
    // Best-effort by contract: a conflict or failure logs and never
    // fails the append that triggered it. compactSmall's own rewrites
    // carry hadro.replaceFiles (replaceSpec non-empty), which this gate
    // excludes — no recursion.
    autoCompact.foreach { case (minBytes, minSegs) =>
      // branch commits excluded: compactSmall rewrites MAIN-line segments
      val plainAppend = !truncate && replaceSpec.isEmpty && branch.isEmpty &&
        dynamicPin.isEmpty && replaceWherePin.isEmpty && compactOf.isEmpty
      if (plainAppend) {
        try {
          val m = CollectionMeta.currentManifest(path)
          if (m.segments.count(_.bytes < minBytes) >= minSegs) {
            val bins = graft.api.Collection(
              org.apache.spark.sql.SparkSession.active, path.toString)
              .compactSmall(minBytes)
            if (bins > 0) logInfo(s"hadro: auto-compacted $bins small-" +
              s"segment bin(s) under $minBytes bytes in $path")
          }
        } catch {
          case e: Exception =>
            logWarning(s"hadro: auto-compaction after append to $path " +
              s"skipped: ${e.getMessage}")
        }
      }
    }
  }

  // Set once this write's manifest is published: its task files then
  // belong to a committed version. Spark calls abort() when commit()
  // throws, and a failure in the housekeeping after the publish (deferred
  // GC's dead-list write) must not delete the files the new version reads.
  @volatile private var published = false

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    if (!published) messages.collect { case m: HadroCommitMessage => m.infos }
      .flatten.flatMap(_.allFiles)
      .foreach(f => Files.deleteIfExists(Paths.get(path.toString, f)))
}

/** All segments one task produced (writer-side rotation can yield several). */
final case class HadroCommitMessage(infos: Seq[SegmentInfo]) extends WriterCommitMessage

/** Native streaming sink: `df.writeStream.format("hadro").start(path)` —
  * each micro-batch epoch commits as ONE manifest version, and the last
  * committed epoch per query is recorded IN that same manifest, so an
  * epoch replayed after a failure/restart is detected and its duplicate
  * segments dropped: exactly-once without a foreachBatch wrapper. */
final class HadroStreamingWrite(path: Path, schema: StructType,
    consistency: Consistency.Value, mutating: Boolean,
    keyField: Option[String], splitBytes: Long, queryId: String,
    offsetIndex: Boolean = true,
    deleteCol: Option[String] = None,
    mergeSchema: Boolean = false,
    autoCompact: Option[(Long, Int)] = None,
    branch: Option[String] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite
    with org.apache.spark.internal.Logging {

  // fail at stream START, not first epoch, when the branch doesn't exist
  branch.foreach { b =>
    require(CollectionMeta.readBranches(path).contains(b),
      s"hadro: streaming write targets unknown branch '$b' (branches: " +
        s"${CollectionMeta.readBranches(path).keys.toSeq.sorted.mkString(", ")})" +
        " — CALL system.create_branch first")
  }

  private val storedMeta = HadroWriteInit.ensureSchema(path, schema,
    tombstone = false, keyField, deleteCol, mergeSchema = mergeSchema)
  private val storedSchema: StructType = storedMeta.schema
  private val indexOrdinals = HadroWriteInit.indexOrdinals(path, storedSchema)
  // Streaming epochs into a DECLARED-bucketed collection keep the layout:
  // same schema-level fallback as the batch path (tags per segment; the
  // manifest spec is already recorded, so coverage just stays complete).
  private val bucketOrdSpec: Option[(Seq[Int], Int)] = for {
    c <- storedMeta.bucketBy
    n <- storedMeta.numBuckets
  } yield (HadroWriteInit.bucketOrdinals(storedSchema, c.split(",").toSeq), n)

  private val partitionOrdSpec: Option[(Int, String)] =
    HadroWriteInit.partitionOrdSpec(storedMeta, storedSchema)

  private val constraints = HadroWriteInit.resolvedConstraints(path, storedSchema)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new HadroStreamingWriterFactory(path.toString, storedSchema, schema, consistency,
      storedMeta.keyField.map(storedSchema.fieldIndex), splitBytes, indexOrdinals,
      offsetIndex, deleteCol, bucketOrdSpec, constraints, partitionOrdSpec)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val segs = messages.collect { case m: HadroCommitMessage => m.infos }
      .flatten.filter(_.rows > 0)
    if (segs.isEmpty) return // idle micro-batch: no manifest churn
    // The replay check runs INSIDE the commit closure so check-and-publish
    // is atomic under the manifest version race: after a failover, a zombie
    // driver and the new driver can both reach here with the same
    // (queryId, epochId) — whichever commits second re-reads a manifest
    // that already records the epoch, declines the commit (returns the
    // manifest unchanged), and drops its duplicate segment files.
    var replayed = false
    val update: graft.meta.Manifest => graft.meta.Manifest = m => {
      if (m.streamEpochs.get(queryId).exists(_ >= epochId)) { replayed = true; m }
      else {
        replayed = false
        var ord = m.nextOrdinal
        val withOrdinals = segs.map { s => val o = ord; ord += 1; s.copy(ordinal = o) }
        m.copy(segments = m.segments ++ withOrdinals,
          mutated = m.mutated || mutating,
          // streamed epochs never declare a physical sort
          sortedBy = None,
          streamEpochs = m.streamEpochs + (queryId -> epochId))
      }
    }
    // Branch-scoped epochs stage on the branch ref (WAP): the branch head
    // manifest carries the same streamEpochs bookkeeping, so the replay
    // check is exactly-once there too — and it survives publish (a
    // fast-forward copies the head's content; a rebase unions epochs).
    branch match {
      case Some(b) => CollectionMeta.commitOnBranch(path, b, update)
      case None => CollectionMeta.commit(path, update)
    }
    if (replayed) dropFiles(messages)
    // Auto-compaction for micro-batch sinks — the place small files
    // actually explode (one tiny segment per epoch per task). Same
    // opt-in, gate, and best-effort contract as the batch path; the
    // compaction's replace commit bumps the generation, which a stream
    // TAILING this same collection treats as a rewrite (by design — see
    // HadroStreaming's generation guard), so co-tailed collections
    // should compact between queries instead.
    // auto-compaction rewrites the MAIN segment list — meaningless for
    // staged (branch) epochs; compact after publish instead
    if (!replayed && branch.isEmpty) autoCompact.foreach { case (minBytes, minSegs) =>
      try {
        val m = CollectionMeta.currentManifest(path)
        if (m.segments.count(_.bytes < minBytes) >= minSegs) {
          val bins = graft.api.Collection(
            org.apache.spark.sql.SparkSession.active, path.toString)
            .compactSmall(minBytes)
          if (bins > 0) logInfo(s"hadro: auto-compacted $bins small-" +
            s"segment bin(s) after epoch $epochId in $path")
        }
      } catch {
        case e: Exception =>
          logWarning(s"hadro: auto-compaction after epoch $epochId in " +
            s"$path skipped: ${e.getMessage}")
      }
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    dropFiles(messages)

  private def dropFiles(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: HadroCommitMessage => m.infos }.flatten
      .flatMap(_.allFiles)
      .foreach(f => Files.deleteIfExists(path.resolve(f)))
}

final class HadroStreamingWriterFactory(path: String, storedSchema: StructType,
    writeSchema: StructType, consistency: Consistency.Value,
    keyOrdinal: Option[Int], splitBytes: Long,
    indexOrdinals: Map[String, Seq[Int]], offsetIndex: Boolean = true,
    deleteCol: Option[String] = None,
    bucketSpec: Option[(Seq[Int], Int)] = None,
    constraints: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    partitionSpec: Option[(Int, String)] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new HadroDataWriter(Paths.get(path), storedSchema, writeSchema, consistency,
      tombstone = false, partitionId, taskId, keyOrdinal, splitBytes, indexOrdinals,
      offsetIndex, deleteCol, 0L, bucketSpec, constraints, partitionSpec)
}

final class HadroWriterFactory(path: String, storedSchema: StructType,
    writeSchema: StructType, consistency: Consistency.Value, tombstone: Boolean,
    keyOrdinal: Option[Int], splitBytes: Long,
    indexOrdinals: Map[String, Seq[Int]] = Map.empty,
    offsetIndex: Boolean = true,
    deleteCol: Option[String] = None,
    maxSegmentBytes: Long = 0L,
    bucketSpec: Option[(Seq[Int], Int)] = None,
    constraints: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    partitionSpec: Option[(Int, String)] = None,
    sortSpec: Seq[(String, Int)] = Nil)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new HadroDataWriter(Paths.get(path), storedSchema, writeSchema, consistency,
      tombstone, partitionId, taskId, keyOrdinal, splitBytes, indexOrdinals, offsetIndex,
      deleteCol, maxSegmentBytes, bucketSpec, constraints, partitionSpec, sortSpec)
}

/** One segment per task (`data-<uuid>.data`), invisible to readers until the
  * driver publishes the manifest — which is what makes a multi-task append
  * atomic (the declared transaction contract, `INTERFACE.md:40-43`).
  *
  * Rows are re-projected from the incoming write schema onto the stored
  * collection schema (match by NAME — deliberately fixing the reference's
  * insertion-order dict matching, `hadro/engine.py:124`, flagged there as a
  * TODO at `:129`); missing nullable fields become nulls, and writing a null
  * into a non-nullable field fails the task. */
final class HadroDataWriter(dir: Path, storedSchema: StructType,
    writeSchema: StructType, consistency: Consistency.Value, tombstone: Boolean,
    partitionId: Int, taskId: Long, keyOrdinal: Option[Int],
    splitBytes: Long = SegmentWriter.DefaultSplitBytes,
    indexOrdinals: Map[String, Seq[Int]] = Map.empty,
    offsetIndex: Boolean = true,
    deleteCol: Option[String] = None,
    maxSegmentBytes: Long = 0L,
    bucketSpec: Option[(Seq[Int], Int)] = None,
    constraints: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    partitionSpec: Option[(Int, String)] = None,
    sortSpec: Seq[(String, Int)] = Nil)
    extends DataWriter[InternalRow] {

  // CHECK enforcement (SQL semantics: NULL passes, FALSE fails): a
  // codegen'd VIOLATION predicate per constraint — `cond <=> false` — so
  // the zero-constraint hot path costs one empty-list check per row.
  private val constraintChecks: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.BasePredicate)] =
    constraints.map { case (n, e) =>
      n -> org.apache.spark.sql.catalyst.expressions.Predicate.create(
        org.apache.spark.sql.catalyst.expressions.EqualNullSafe(
          e, org.apache.spark.sql.catalyst.expressions.Literal(false)))
    }

  private def newSegmentFile() = dir.resolve(
    f"data-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}.data")
  // Collection-level codec, read once per task: EVERY write path (batch,
  // delta, streaming, CoW rewrite) flows through this writer, so a
  // compressed collection stays compressed without per-path threading.
  private val codec: Option[String] = CollectionMeta.readSchema(dir).flatMap(_.compress)
  private val zstdCompress: Boolean =
    codec.contains("zstd") || codec.contains("zstd-dict")
  private def newWriter() = new SegmentWriter(newSegmentFile(), storedSchema,
    consistency, keyOrdinal, splitBytes, indexOrdinals, offsetIndex,
    compress = zstdCompress, dictTrain = codec.contains("zstd-dict"),
    sortSpec = sortSpec)
  // Rotation: finished segments accumulate in task order — their relative
  // order is preserved through ordinal assignment at commit, which is what
  // keeps last-write-wins correct for repeated keys within one partition.
  private val finished = scala.collection.mutable.Buffer.empty[SegmentInfo]
  private var writer = newWriter()

  // Storage bucketing: one open segment PER BUCKET this task sees. A key
  // always hashes to one bucket, so last-write-wins only needs intra-
  // bucket order — which per-bucket sequential appends preserve. Callers
  // co-partition the shuffle (repartition on the same bucket expression)
  // so a task normally sees one bucket; without it this degrades to at
  // most `numBuckets` open writers, never incorrectness.
  private val bucketWriters = scala.collection.mutable.Map.empty[Int, SegmentWriter]

  // Declared value partitioning: one open segment PER TRANSFORM VALUE
  // this task sees. Catalog INSERTs cluster the input by the transform
  // (write builder distribution), so a task normally sees one value;
  // without that clustering this degrades to one writer per distinct
  // value in the task's slice — more segments, never incorrectness.
  private val partitionWriters = scala.collection.mutable.Map.empty[String, SegmentWriter]

  /** pmod(xxhash64(col1, col2, ...), n) — EXACTLY Spark's `xxhash64`
    * (seed 42, left-to-right seed chaining, null arguments skipped) so
    * the engine-side shuffle expression and the file tags agree. */
  private def bucketOf(row: InternalRow, ords: Seq[Int], n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    var h = 42L
    ords.foreach { ord =>
      if (!row.isNullAt(ord)) // null skips: the running hash passes through
        h = storedSchema(ord).dataType match {
          case org.apache.spark.sql.types.LongType => XXH64.hashLong(row.getLong(ord), h)
          case org.apache.spark.sql.types.IntegerType => XXH64.hashInt(row.getInt(ord), h)
          case _ => XXH64.hashUTF8String(row.getUTF8String(ord), h)
        }
    }
    java.lang.Math.floorMod(h, n.toLong).toInt
  }

  // CDC merge: per-record tombstone flag read from a transport column of
  // the incoming frame (never stored) — one commit mixes upserts + deletes.
  private val deleteOrd: Int = deleteCol.map { c =>
    val o = writeSchema.fieldNames.indexOf(c)
    require(o >= 0, s"hadro: delete column '$c' not in write schema")
    require(writeSchema(o).dataType == org.apache.spark.sql.types.BooleanType,
      s"hadro: delete column '$c' must be boolean")
    o
  }.getOrElse(-1)

  // Hot-path form of keyOrdinal (one branch per row, no Option closure).
  private val keyOrd: Int = keyOrdinal.getOrElse(-1)

  // Projection: stored ordinal -> write ordinal (or -1 = absent -> null).
  private val proj: Array[Int] = storedSchema.fields.map(f => writeSchema.fieldNames.indexOf(f.name))
  private val identity = deleteOrd < 0 &&
    proj.length == writeSchema.length && proj.zipWithIndex.forall { case (p, i) => p == i }
  private val projected = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(storedSchema.length)

  override def write(row: InternalRow): Unit = {
    val deleted = tombstone ||
      (deleteOrd >= 0 && !row.isNullAt(deleteOrd) && row.getBoolean(deleteOrd))
    val out: InternalRow =
      if (identity) row
      else {
        var i = 0
        while (i < proj.length) {
          val p = proj(i)
          projected.update(i, if (p < 0) null else row.get(p, storedSchema(i).dataType))
          i += 1
        }
        projected
      }
    // A NULL key is unstorable, not just unusual: the key IS the record's
    // identity (LWW ranking, tombstones, point gets are defined over it)
    // and the reported table schema marks it non-nullable — Spark needs
    // that for row-level-op row ids — so a null that slips in here NPEs
    // every later read inside codegen with no diagnostic. Fail the write
    // with a message that names the fix instead.
    if (keyOrd >= 0 && out.isNullAt(keyOrd))
      throw new IllegalArgumentException(
        s"hadro: NULL in key field '${storedSchema(keyOrd).name}' — " +
          "a keyed collection's key identifies the record and is reported " +
          "non-nullable to Spark; COALESCE the key expression to a " +
          "sentinel before writing")
    var i = 0
    while (i < storedSchema.length) {
      // deleted records may carry a key-only projection: skip the
      // non-null contract for them (they never surface as data rows)
      if (!deleted && !storedSchema(i).nullable && out.isNullAt(i))
        throw new IllegalArgumentException(
          s"hadro: null in non-nullable field '${storedSchema(i).name}'")
      i += 1
    }
    if (!deleted && constraintChecks.nonEmpty)
      constraintChecks.foreach { case (n, p) =>
        if (p.eval(out)) throw new IllegalArgumentException(
          s"hadro: CHECK constraint '$n' violated " +
            s"(${CollectionMeta.readConstraints(dir).getOrElse(n, "?")})")
      }
    rowsWritten += 1
    bucketSpec match {
      case Some((ords, n)) =>
        val b = bucketOf(out, ords, n)
        val w = bucketWriters.getOrElseUpdate(b, newWriter())
        w.append(out, deleted = deleted)
        if (maxSegmentBytes > 0 && w.bytes >= maxSegmentBytes) {
          finished += w.close().copy(bucket = Some(b))
          bucketWriters(b) = newWriter()
        }
      case None => partitionSpec match {
        case Some((ord, transform)) =>
          val tag = HadroPartition.tagOf(storedSchema(ord).dataType, out, ord, transform)
          val w = partitionWriters.getOrElseUpdate(tag, newWriter())
          w.append(out, deleted = deleted)
          if (maxSegmentBytes > 0 && w.bytes >= maxSegmentBytes) {
            finished += w.close().copy(partition = Some(tag))
            partitionWriters(tag) = newWriter()
          }
        case None =>
          writer.append(out, deleted = deleted)
          if (maxSegmentBytes > 0 && writer.bytes >= maxSegmentBytes) {
            finished += writer.close()
            writer = newWriter()
          }
      }
    }
  }

  // task-level write metrics, polled by Spark during the write
  private var rowsWritten = 0L

  override def currentMetricsValues(): Array[
      org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val openBytes = writer.bytes + bucketWriters.values.map(_.bytes).sum +
      partitionWriters.values.map(_.bytes).sum
    val openSegs = (if (writer.rowCount > 0) 1 else 0) +
      bucketWriters.values.count(_.rowCount > 0) +
      partitionWriters.values.count(_.rowCount > 0)
    Array(
      HadroScan.taskMetric("hadroRowsWritten", rowsWritten),
      HadroScan.taskMetric("hadroBytesWritten",
        finished.map(_.bytes).sum + openBytes),
      HadroScan.taskMetric("hadroSegmentsWritten",
        (finished.size + openSegs).toLong))
  }

  override def commit(): WriterCommitMessage = {
    bucketWriters.toSeq.sortBy(_._1).foreach { case (b, w) =>
      if (w.rowCount > 0) finished += w.close().copy(bucket = Some(b))
      else w.abort()
    }
    partitionWriters.toSeq.sortBy(_._1).foreach { case (tag, w) =>
      if (w.rowCount > 0) finished += w.close().copy(partition = Some(tag))
      else w.abort()
    }
    // a trailing writer that saw no rows leaves no file behind
    if (writer.rowCount > 0 || finished.isEmpty) finished += writer.close()
    else writer.abort()
    HadroCommitMessage(finished.toSeq)
  }

  override def abort(): Unit = {
    writer.abort()
    bucketWriters.values.foreach(_.abort())
    partitionWriters.values.foreach(_.abort())
    finished.flatMap(_.allFiles)
      .foreach(f => Files.deleteIfExists(dir.resolve(f)))
  }
  override def close(): Unit = ()
}
