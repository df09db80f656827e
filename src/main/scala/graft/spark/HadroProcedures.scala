package graft.spark

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.api.Collection

/** SQL maintenance surface: `CALL <catalog>.system.<proc>(...)`.
  *
  * Every background job a collection needs over its lifetime — compaction,
  * small-segment bin-packing, clustering, index rebuilds, space reclaim —
  * becomes reachable from pure SQL, so an orchestrator (or a human with a
  * SQL console) can run storage maintenance without linking the Scala API:
  *
  * {{{
  * CALL graft.system.compact('db.events');
  * CALL graft.system.compact_small('db.events', 16777216);
  * CALL graft.system.cluster('db.events', 'ts', 32);
  * CALL graft.system.rebuild_index('db.events', 'by_user');
  * CALL graft.system.vacuum('db.events');
  * CALL graft.system.history('db.events');
  * }}}
  *
  * Each procedure returns a one-row result describing what happened (the
  * committed manifest version, bins packed, ...) via a driver-local scan —
  * the work itself runs as normal distributed Spark jobs through the same
  * [[graft.api.Collection]] code paths the programmatic API uses. Table
  * names are resolved against the owning catalog's warehouse, same rules
  * as `SELECT`. */
object HadroProcedures {

  val names: Seq[String] =
    Seq("compact", "compact_small", "cluster", "rebuild_index", "vacuum", "history",
      "rollback", "expire_snapshots", "clone", "analyze", "create_tag", "drop_tag",
      "publish", "orphan_files", "remove_orphans", "drop_partitions",
      "compact_partitions", "set_partition_spec", "purge_deletes",
      "create_branch", "drop_branch", "fast_forward", "rebase",
      "typed_changes", "rollup_bootstrap", "rollup_cycle", "rollup_refresh",
      "resolved_view", "sweep_index", "rollup_health",
      "neardup_index_build", "neardup_probe", "sweep_lsh_index",
      "embedding_index_build", "embedding_probe",
      "components_update", "components_view", "components_cycle",
      "sweep_components", "keep_list_view",
      "components_rebuild", "curation_cycle", "drop_list_view",
      "loop_health", "sweep_pairs")

  /** "fn:src:out,..." — the aggregate spec grammar of the rollup
    * procedures (fn in min|max|sum), e.g.
    * 'sum:amount:total,max:ts:last_ts'. */
  private def parseAggs(s: String): Seq[(String, String, String)] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { t =>
      val p = t.split(":").map(_.trim)
      require(p.length == 3 && p.forall(_.nonEmpty),
        s"hadro: aggregate spec must be 'fn:src:out', got '$t'")
      (p(0), p(1), p(2))
    }

  /** "src:out,..." — the delta-foldable sum spec of rollup_cycle. */
  private def parseSums(s: String): Seq[(String, String)] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { t =>
      val p = t.split(":").map(_.trim)
      require(p.length == 2 && p.forall(_.nonEmpty),
        s"hadro: sum spec must be 'src:out', got '$t'")
      (p(0), p(1))
    }

  /** The (pairs_dir, window_id) pair of the probe procedures mapped to
    * the Scala API's `pairsSink`: '' skips; a nonempty dir requires a
    * non-negative monotonic window id (the exactly-once stamp). */
  private def pairsSinkArg(in: InternalRow, dirPos: Int,
      idPos: Int): Option[(String, Long)] = {
    val dir = if (in.isNullAt(dirPos)) "" else in.getUTF8String(dirPos).toString
    if (dir.isEmpty) None
    else {
      val wid = if (in.isNullAt(idPos)) -1L else in.getLong(idPos)
      require(wid >= 0L,
        "hadro: pairs_dir requires a non-negative window_id — the " +
          "monotonic ingest-window stamp that makes the pairs append " +
          "exactly-once across retries")
      Some((dir, wid))
    }
  }

  /** An optional table-name argument: None for '' or NULL. */
  private def tableArg(in: InternalRow, pos: Int): Option[String] =
    if (in.isNullAt(pos)) None
    else Option(in.getUTF8String(pos).toString).filter(_.nonEmpty)

  /** `resolve` maps a 'ns.table' string to the collection directory,
    * enforcing existence — supplied by [[HadroCatalog]] so procedures share
    * the catalog's name resolution exactly. `resolveNew` is the same name
    * resolution WITHOUT the existence check, for procedures that create
    * their target (clone, rollup_bootstrap). `catalogName` qualifies
    * table identifiers the procedure body feeds back into SQL (the
    * rollup procedures' MERGE INTO). */
  def load(procName: String, catalogName: String, resolve: String => Path,
      resolveNew: String => Path): UnboundProcedure = {
    def coll(in: InternalRow): Collection =
      Collection(SparkSession.active, resolve(in.getUTF8String(0).toString).toString)
    procName match {
      case "clone" => proc("clone",
        "zero-copy snapshot clone: hard-link the current version's " +
          "immutable files into a NEW table with a fresh history",
        Seq(p("source", StringType), p("target", StringType)),
        new StructType().add("cloned_version", LongType)
          .add("n_segments", LongType)) { in =>
          val out = coll(in).cloneTo(
            resolveNew(in.getUTF8String(1).toString).toString)
          Seq(InternalRow(out.version,
            graft.meta.CollectionMeta.currentManifest(
              java.nio.file.Paths.get(out.path)).segments.size.toLong))
        }
      case "compact" => proc("compact",
        "rewrite the collection to only live, resolved rows; " +
          "target_bytes > 0 also caps every rewritten segment's size " +
          "(the OPTIMIZE target-file-size knob)",
        Seq(p("table", StringType),
          ProcedureParameter.in("target_bytes", LongType)
            .defaultValue("0").build()),
        new StructType().add("version", LongType)) { in =>
          val c = coll(in)
          val target = if (in.isNullAt(1)) 0L else in.getLong(1)
          c.compact(target)
          Seq(InternalRow(c.version))
        }
      case "purge_deletes" => proc("purge_deletes",
        "materialize deletion vectors (REORG ... APPLY (PURGE) shape): " +
          "rewrite only the segments whose DV-deleted row fraction is " +
          ">= min_fraction, dropping vectored rows and bitmap sidecars; " +
          "untouched segments are carried by reference",
        Seq(p("table", StringType),
          ProcedureParameter.in("min_fraction", DoubleType)
            .defaultValue("0.0").build()),
        new StructType().add("segments_purged", IntegerType)
          .add("version", LongType)) { in =>
          val c = coll(in)
          val f = if (in.isNullAt(1)) 0.0 else in.getDouble(1)
          Seq(InternalRow(c.purgeDeletes(f), c.version))
        }
      case "compact_small" => proc("compact_small",
        "bin-pack contiguous runs of segments smaller than min_bytes",
        Seq(p("table", StringType), p("min_bytes", LongType)),
        new StructType().add("bins_committed", IntegerType)) { in =>
          Seq(InternalRow(coll(in).compactSmall(in.getLong(1))))
        }
      case "cluster" => proc("cluster",
        "rewrite range-clustered on the given columns (comma-separated; " +
          "one column = exact sort, several = z-order)",
        Seq(p("table", StringType), p("columns", StringType),
          p("num_segments", IntegerType)),
        new StructType().add("version", LongType)) { in =>
          val c = coll(in)
          val cols = in.getUTF8String(1).toString
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq
          c.cluster(cols, in.getInt(2))
          Seq(InternalRow(c.version))
        }
      case "rebuild_index" => proc("rebuild_index",
        "rebuild one named secondary index in place (no data rewrite)",
        Seq(p("table", StringType), p("name", StringType)),
        new StructType().add("rebuilt", StringType)) { in =>
          val name = in.getUTF8String(1).toString
          coll(in).indexes.rebuild(name)
          Seq(InternalRow(UTF8String.fromString(name)))
        }
      case "compact_partitions" => proc("compact_partitions",
        "rewrite only the named partitions' segments (comma-separated " +
          "tags; empty = every fragmented partition; identity-string " +
          "tags containing commas need the Scala API) — one atomic " +
          "replace commit and one output segment per partition, " +
          "untouched partitions carried by reference",
        Seq(p("table", StringType),
          ProcedureParameter.in("tags", StringType)
            .defaultValue("''").build()),
        new StructType().add("partitions_compacted", IntegerType)
          .add("version", LongType)) { in =>
          val c = coll(in)
          val tags =
            if (in.isNullAt(1)) Nil
            else in.getUTF8String(1).toString
              .split(",").map(_.trim).filter(_.nonEmpty).toSeq
          Seq(InternalRow(c.compactPartitions(tags), c.version))
        }
      case "drop_partitions" => proc("drop_partitions",
        "drop every segment whose exact partition-column stats bound is " +
          "strictly below the cutoff: the transform's integer ordinal " +
          "(e.g. epoch days for days()) for time/numeric-identity " +
          "transforms, an exact-stats string comparison for string " +
          "identity — metadata-only retention for value-partitioned, " +
          "pure-append collections; time travel across the drop keeps " +
          "working",
        Seq(p("table", StringType), p("before", StringType)),
        new StructType().add("segments_dropped", IntegerType)
          .add("version", LongType)) { in =>
          val c = coll(in)
          val n = c.dropPartitions(in.getUTF8String(1).toString)
          Seq(InternalRow(n, c.version))
        }
      case "set_partition_spec" => proc("set_partition_spec",
        "forward-only partition-spec evolution: re-declare the time " +
          "transform over the same source column at a finer granularity " +
          "(years -> months -> days -> hours) — metadata-only; old " +
          "segments keep their coarser tags (stats pruning and retention " +
          "are unaffected), new writes route under the new transform",
        Seq(p("table", StringType), p("transform", StringType)),
        new StructType().add("partition_transform", StringType)
          .add("prior_transforms", StringType)) { in =>
          val c = coll(in)
          c.setPartitionTransform(in.getUTF8String(1).toString)
          val meta = graft.meta.CollectionMeta.readSchema(
            java.nio.file.Paths.get(c.path)).get
          Seq(InternalRow(
            UTF8String.fromString(meta.partitionTransform.getOrElse("")),
            UTF8String.fromString(meta.priorPartitionTransforms.mkString(","))))
        }
      case "vacuum" => proc("vacuum",
        "physically delete deferred-GC'd segment files and orphaned sidecars",
        Seq(p("table", StringType)),
        new StructType().add("version", LongType)) { in =>
          val c = coll(in); c.vacuum()
          Seq(InternalRow(c.version))
        }
      case "rollback" => proc("rollback",
        "restore a previously committed version as a new commit " +
          "(RESTORE analog; metadata-only, history preserved)",
        Seq(p("table", StringType), p("version", LongType)),
        new StructType().add("restored_version", LongType)
          .add("committed_version", LongType)) { in =>
          val c = coll(in); val v = in.getLong(1)
          Seq(InternalRow(v, c.restoreVersion(v)))
        }
      case "expire_snapshots" => proc("expire_snapshots",
        "drop manifest versions committed before the given epoch-ms cutoff " +
          "(current head always kept) — age-based rollback/time-travel retention",
        Seq(p("table", StringType), p("older_than_ms", LongType)),
        new StructType().add("expired", IntegerType)
          .add("current_version", LongType)) { in =>
          val c = coll(in)
          Seq(InternalRow(c.expireSnapshots(in.getLong(1)), c.version))
        }
      case "analyze" => proc("analyze",
        "compute table-level column statistics (ANALYZE TABLE analog) and " +
          "publish them to the cost-based optimizer via the scan's " +
          "reported statistics; exact=false uses one HLL pass; " +
          "histogram_bins>0 adds equi-height histograms on numeric columns",
        Seq(p("table", StringType), p("exact", BooleanType),
          p("histogram_bins", IntegerType)),
        new StructType().add("column", StringType).add("ndv", LongType)
          .add("null_count", LongType).add("avg_len", LongType)
          .add("max_len", LongType).add("n_histogram_bins", IntegerType)) { in =>
          coll(in).analyze(exact = in.getBoolean(1),
              histogramBins = in.getInt(2)).map { case (name, cs) =>
            InternalRow(UTF8String.fromString(name), cs.distinctCount,
              cs.nullCount, cs.avgLen, cs.maxLen, cs.histogram.size)
          }
        }
      case "orphan_files" => proc("orphan_files",
        "list data/sidecar files no retained or tagged manifest references " +
          "and the deferred GC does not own — crash leftovers (storage leaks)",
        Seq(p("table", StringType)),
        new StructType().add("file", StringType).add("bytes", LongType)) { in =>
          coll(in).orphanFiles().map { case (f, b) =>
            InternalRow(UTF8String.fromString(f), b)
          }
        }
      case "remove_orphans" => proc("remove_orphans",
        "delete the currently-orphaned files (crash leftovers); never " +
          "touches referenced, tagged, or deferred-GC-owned files",
        Seq(p("table", StringType)),
        new StructType().add("removed", IntegerType)) { in =>
          Seq(InternalRow(coll(in).removeOrphans()))
        }
      case "publish" => proc("publish",
        "write-audit-publish: atomically replace the target's contents " +
          "with the staged table's current state (zero-copy hard links, " +
          "one commit; history stays rollback-able). Refuses when the " +
          "target advanced past the branch base unless force = true",
        Seq(p("staged", StringType), p("target", StringType),
          ProcedureParameter.in("force", BooleanType)
            .defaultValue("false").build()),
        new StructType().add("published_version", LongType)) { in =>
          val stagedDir = resolve(in.getUTF8String(0).toString)
          val target = Collection(SparkSession.active,
            resolve(in.getUTF8String(1).toString).toString)
          Seq(InternalRow(target.publishFrom(stagedDir.toString,
            force = !in.isNullAt(2) && in.getBoolean(2))))
        }
      case "create_tag" => proc("create_tag",
        "pin a committed version under a name (Iceberg tag analog): exempt " +
          "from every retention sweep and from physical GC until dropped; " +
          "version -1 tags the current head",
        Seq(p("table", StringType), p("name", StringType), p("version", LongType)),
        new StructType().add("tag", StringType).add("tagged_version", LongType)) { in =>
          val name = in.getUTF8String(1).toString
          Seq(InternalRow(UTF8String.fromString(name),
            coll(in).createTag(name, in.getLong(2))))
        }
      case "create_branch" => proc("create_branch",
        "fork a BRANCH at a version (-1 = current head) — the " +
          "write-audit-publish staging surface: writes routed via " +
          "option hadro.branch / session conf spark.hadro.writeBranch " +
          "stay invisible to main readers; audit with VERSION AS OF " +
          "'<name>'; publish with fast_forward",
        Seq(p("table", StringType), p("name", StringType), p("version", LongType)),
        new StructType().add("branch", StringType).add("fork_version", LongType)) { in =>
          val name = in.getUTF8String(1).toString
          Seq(InternalRow(UTF8String.fromString(name),
            coll(in).createBranch(name, in.getLong(2))))
        }
      case "drop_branch" => proc("drop_branch",
        "drop a branch (the audit-failed path): staged manifests age out " +
          "with normal retention and staged files become reclaimable",
        Seq(p("table", StringType), p("name", StringType)),
        new StructType().add("branch", StringType).add("existed", BooleanType)) { in =>
          val name = in.getUTF8String(1).toString
          Seq(InternalRow(UTF8String.fromString(name), coll(in).dropBranch(name)))
        }
      case "fast_forward" => proc("fast_forward",
        "publish a branch: republish its head as one atomic main commit, " +
          "iff main has not moved since the fork (conflict otherwise); " +
          "advances the fork base so the audit-publish cycle continues",
        Seq(p("table", StringType), p("name", StringType)),
        new StructType().add("branch", StringType)
          .add("published_version", LongType)) { in =>
          val name = in.getUTF8String(1).toString
          Seq(InternalRow(UTF8String.fromString(name),
            coll(in).fastForward(name)))
        }
      case "rebase" => proc("rebase",
        "publish a branch by re-applying its staged append segments onto " +
          "the CURRENT main head (cherry-pick analog — works after main " +
          "moved, where fast_forward refuses); staged rows rank newest " +
          "under last-write-wins; the branch re-forks at the published " +
          "version",
        Seq(p("table", StringType), p("name", StringType)),
        new StructType().add("branch", StringType)
          .add("published_version", LongType)) { in =>
          val name = in.getUTF8String(1).toString
          Seq(InternalRow(UTF8String.fromString(name),
            coll(in).rebase(name)))
        }
      case "drop_tag" => proc("drop_tag",
        "drop a named tag; pinned files return to normal GC at the next " +
          "maintenance cycle",
        Seq(p("table", StringType), p("name", StringType)),
        new StructType().add("tag", StringType).add("existed", BooleanType)) { in =>
          val name = in.getUTF8String(1).toString
          Seq(InternalRow(UTF8String.fromString(name), coll(in).dropTag(name)))
        }
      case "typed_changes" => proc("typed_changes",
        "register a TEMP VIEW of Delta-CDF-style typed change rows " +
          "(_change_type in insert/update_preimage/update_postimage/" +
          "delete) for a KEYED table's changes window " +
          "(start_version, end_version] — table_changes() analog for " +
          "pure-SQL consumers. The view is lazy and fully distributed " +
          "(graft.api.ChangeFeed.updateImages: window-proportional scan, " +
          "touched-key-restricted pre-images); only this one descriptor " +
          "row is driver-local",
        Seq(p("table", StringType), p("start_version", LongType),
          p("end_version", LongType), p("view", StringType)),
        new StructType().add("view", StringType)
          .add("start_version", LongType).add("end_version", LongType)) { in =>
          val dir = resolve(in.getUTF8String(0).toString)
          val start = in.getLong(1)
          val end = in.getLong(2)
          val view = in.getUTF8String(3).toString
          graft.api.ChangeFeed
            .updateImages(SparkSession.active, dir.toString, start, end)
            .createOrReplaceTempView(view)
          Seq(InternalRow(UTF8String.fromString(view), start, end))
        }
      case "rollup_bootstrap" => proc("rollup_bootstrap",
        "materialize an incremental-consumer rollup (group_col, n, " +
          "aggs...) over fact_table from the cursor-tag-pinned RESOLVED " +
          "snapshot, keyed by the group — the h91/h96 loop's baseline. " +
          "aggs: 'fn:src:out,...' with fn in min|max|sum (sum rides " +
          "DECIMAL(18,2)). (Re)pins cursor_tag at the current head and " +
          "stamps the exactly-once applied-version record in the " +
          "rollup's own commit",
        Seq(p("fact_table", StringType), p("cursor_tag", StringType),
          p("rollup_table", StringType), p("group_col", StringType),
          p("aggs", StringType)),
        new StructType().add("rollup_table", StringType)
          .add("baseline_version", LongType)) { in =>
          val factDir = resolve(in.getUTF8String(0).toString)
          val tag = in.getUTF8String(1).toString
          val rollup = in.getUTF8String(2).toString
          val rollupDir = resolveNew(rollup)
          graft.api.IncrementalRollup.bootstrapRefresh(SparkSession.active,
            factDir.toString, tag, rollupDir.toString,
            in.getUTF8String(3).toString,
            parseAggs(in.getUTF8String(4).toString))
          Seq(InternalRow(UTF8String.fromString(s"$catalogName.$rollup"),
            Collection(SparkSession.active, factDir.toString).tags(tag)))
        }
      case "rollup_cycle" => proc("rollup_cycle",
        "one exactly-once consumer cycle: fold the (cursor, head] " +
          "changes window into per-group deltas and MERGE them into " +
          "rollup_table, advancing the cursor tag — sums: 'src:out,...'. " +
          "keyed=true classifies the window into typed pre/post-image " +
          "rows first (group-moving upserts net correctly). Returns the " +
          "new cursor version",
        Seq(p("fact_table", StringType), p("cursor_tag", StringType),
          p("rollup_table", StringType), p("group_col", StringType),
          p("sums", StringType),
          ProcedureParameter.in("keyed", BooleanType)
            .defaultValue("false").build()),
        new StructType().add("cursor_version", LongType)) { in =>
          val factDir = resolve(in.getUTF8String(0).toString).toString
          val tag = in.getUTF8String(1).toString
          val rollup = s"$catalogName.${in.getUTF8String(2).toString}"
          val g = in.getUTF8String(3).toString
          val sums = parseSums(in.getUTF8String(4).toString)
          val keyed = !in.isNullAt(5) && in.getBoolean(5)
          val v =
            if (keyed) graft.api.IncrementalRollup.cycleKeyed(
              SparkSession.active, factDir, tag, rollup, g, sums)
            else graft.api.IncrementalRollup.cycle(
              SparkSession.active, factDir, tag, rollup, g, sums)
          Seq(InternalRow(v))
        }
      case "rollup_refresh" => proc("rollup_refresh",
        "one exactly-once partial-recompute cycle for aggregates that " +
          "are not delta-foldable under deletes (MIN/MAX): re-aggregate " +
          "ONLY the groups the changes window touched from the head " +
          "snapshot and MERGE the refreshed rows — aggs: 'fn:src:out,...' " +
          "with fn in min|max|sum. Returns the new cursor version",
        Seq(p("fact_table", StringType), p("cursor_tag", StringType),
          p("rollup_table", StringType), p("group_col", StringType),
          p("aggs", StringType)),
        new StructType().add("cursor_version", LongType)) { in =>
          Seq(InternalRow(graft.api.IncrementalRollup.cycleRefresh(
            SparkSession.active,
            resolve(in.getUTF8String(0).toString).toString,
            in.getUTF8String(1).toString,
            s"$catalogName.${in.getUTF8String(2).toString}",
            in.getUTF8String(3).toString,
            parseAggs(in.getUTF8String(4).toString))))
        }
      case "sweep_index" => proc("sweep_index",
        "physically sweep an ANN index collection against its base " +
          "table: rewrite keeping only rows whose base row is still " +
          "live (one semi-join + one atomic version-pinned commit; a " +
          "concurrent append_sq_index refresh survives). Run when " +
          "delete churn accumulates — per-query live re-validation " +
          "covers the gap between sweeps",
        Seq(p("index_table", StringType), p("base_table", StringType),
          p("base_key_col", StringType)),
        new StructType().add("rows_swept", LongType)
          .add("index_version", LongType)) { in =>
          val idx = coll(in)
          val base = Collection(SparkSession.active,
            resolve(in.getUTF8String(1).toString).toString)
          val swept = graft.ops.SimilarityOps.sweepSqIndex(idx, base,
            in.getUTF8String(2).toString)
          Seq(InternalRow(swept, idx.version))
        }
      case "neardup_index_build" => proc("neardup_index_build",
        "build the persisted MinHash-LSH near-dup index for a document " +
          "table under index_dir (two hadro collections: the inverted " +
          "banding plus the doc_id-KEYED verification sets) — the ingest " +
          "loop's day-0 verb; nightly batches then probe+extend it via " +
          "neardup_probe, and sweep_lsh_index reclaims delete churn. The " +
          "banding (shingle_k, num_hashes, bands) persists in the index's " +
          "params sidecar, so probes self-configure and can never band " +
          "incompatibly. The pure-SQL route to " +
          "graft.ops.DedupOps.minhashLshIndexBuild",
        Seq(p("table", StringType), p("id_col", StringType),
          p("text_col", StringType), p("index_dir", StringType),
          p("shingle_k", IntegerType), p("num_hashes", IntegerType),
          p("bands", IntegerType)),
        new StructType().add("docs_indexed", LongType)
          .add("index_dir", StringType)) { in =>
          val c = coll(in)
          val dirStr = in.getUTF8String(3).toString
          graft.ops.DedupOps.minhashLshIndexBuild(c.toDF(),
            in.getUTF8String(1).toString, in.getUTF8String(2).toString,
            dirStr, shingleK = in.getInt(4), numHashes = in.getInt(5),
            bands = in.getInt(6))
          Seq(InternalRow(
            Collection(SparkSession.active, s"$dirStr/sets").count(),
            UTF8String.fromString(dirStr)))
        }
      case "neardup_probe" => proc("neardup_probe",
        "probe a document batch table against a neardup_index_build " +
          "index and register the verified pairs (doc_a, doc_b, jaccard) " +
          "as a TEMP VIEW (the resolved_view shape). extend=false is a " +
          "lazy dry-run against the pinned index version; extend=true " +
          "runs the nightly mutating ingest — pairs materialize BEFORE " +
          "the index extends, the extension is mutation-aware and " +
          "idempotent, and concurrent ingests serialize on the index's " +
          "ingest lease. live_table ('' = skip) drops pairs whose corpus " +
          "side was deleted from the base after the index was built. " +
          "pairs_dir ('' = skip; extend mode only) also PERSISTS the " +
          "window's pairs to an append-only collection inside the same " +
          "leased ingest, exactly once across retries via the monotonic " +
          "window_id stamp — the stream components_cycle consumes. " +
          "must_check_table ('' = skip; columns doc_a, doc_b) pins known " +
          "pairs past the probabilistic candidate stage",
        Seq(p("batch_table", StringType), p("id_col", StringType),
          p("text_col", StringType), p("index_dir", StringType),
          p("view", StringType), p("threshold", DoubleType),
          p("extend", BooleanType), p("live_table", StringType),
          ProcedureParameter.in("pairs_dir", StringType)
            .defaultValue("''").build(),
          ProcedureParameter.in("window_id", LongType)
            .defaultValue("-1").build(),
          ProcedureParameter.in("must_check_table", StringType)
            .defaultValue("''").build()),
        new StructType().add("view", StringType)
          .add("extended", BooleanType)) { in =>
          val spark = SparkSession.active
          val batch = coll(in).toDF()
          val liveName = in.getUTF8String(7).toString
          val live =
            if (liveName.isEmpty) None
            else Some(Collection(spark, resolve(liveName).toString).ids())
          val extend = in.getBoolean(6)
          val view = in.getUTF8String(4).toString
          graft.ops.DedupOps.minhashLshIndexProbe(spark, batch,
            in.getUTF8String(1).toString, in.getUTF8String(2).toString,
            in.getUTF8String(3).toString,
            threshold = in.getDouble(5), extendIndex = extend, live = live,
            mustCheck = tableArg(in, 10).map(n =>
              Collection(spark, resolve(n).toString).toDF()),
            pairsSink = pairsSinkArg(in, 8, 9))
            .createOrReplaceTempView(view)
          Seq(InternalRow(UTF8String.fromString(view), extend))
        }
      case "embedding_index_build" => proc("embedding_index_build",
        "build the persisted sign-LSH near-dup index for an embedding " +
          "table (vec_col: array<float>) under index_dir — " +
          "neardup_index_build's vector-modality twin; the banding " +
          "parameters (bits per band x bands, signature <= 62 bits) ride " +
          "a params sidecar and are fixed for the index's lifetime",
        Seq(p("table", StringType), p("id_col", StringType),
          p("vec_col", StringType), p("index_dir", StringType),
          p("bits", IntegerType), p("bands", IntegerType)),
        new StructType().add("vecs_indexed", LongType)
          .add("index_dir", StringType)) { in =>
          val c = coll(in)
          val dirStr = in.getUTF8String(3).toString
          graft.ops.DedupOps.embeddingIndexBuild(c.toDF(),
            in.getUTF8String(1).toString, in.getUTF8String(2).toString,
            dirStr, bits = in.getInt(4), numBands = in.getInt(5))
          Seq(InternalRow(
            Collection(SparkSession.active, s"$dirStr/sets").count(),
            UTF8String.fromString(dirStr)))
        }
      case "embedding_probe" => proc("embedding_probe",
        "probe a vector batch table against an embedding_index_build " +
          "index and register the pairs (id_a, id_b, cosine >= threshold) " +
          "as a TEMP VIEW — neardup_probe's vector-modality twin (same " +
          "dry-run/extend semantics, mutation-aware lease-serialized " +
          "extension, optional live_table gate, pairs_dir/window_id " +
          "persisted pair stream, must_check_table pins with columns " +
          "id_a/id_b; banding read from the index's own params sidecar)",
        Seq(p("batch_table", StringType), p("id_col", StringType),
          p("vec_col", StringType), p("index_dir", StringType),
          p("view", StringType), p("threshold", DoubleType),
          p("extend", BooleanType), p("live_table", StringType),
          ProcedureParameter.in("pairs_dir", StringType)
            .defaultValue("''").build(),
          ProcedureParameter.in("window_id", LongType)
            .defaultValue("-1").build(),
          ProcedureParameter.in("must_check_table", StringType)
            .defaultValue("''").build()),
        new StructType().add("view", StringType)
          .add("extended", BooleanType)) { in =>
          val spark = SparkSession.active
          val liveName = in.getUTF8String(7).toString
          val live =
            if (liveName.isEmpty) None
            else Some(Collection(spark, resolve(liveName).toString).ids())
          val extend = in.getBoolean(6)
          val view = in.getUTF8String(4).toString
          graft.ops.DedupOps.embeddingIndexProbe(spark, coll(in).toDF(),
            in.getUTF8String(1).toString, in.getUTF8String(2).toString,
            in.getUTF8String(3).toString,
            threshold = in.getDouble(5), extendIndex = extend, live = live,
            mustCheck = tableArg(in, 10).map(n =>
              Collection(spark, resolve(n).toString).toDF()),
            pairsSink = pairsSinkArg(in, 8, 9))
            .createOrReplaceTempView(view)
          Seq(InternalRow(UTF8String.fromString(view), extend))
        }
      case "components_update" => proc("components_update",
        "fold a near-dup PAIR table (two long id columns) into the " +
          "persisted incremental connected-components membership at " +
          "state_dir — the downstream consumer of the neardup_probe " +
          "pair stream: touched clusters re-root, untouched clusters " +
          "are never read, crash retries are idempotent (see " +
          "components_view for the resolved read). keep_dir ('' = skip) " +
          "also MERGEs the touched clusters' rows into the materialized " +
          "keep-list collection. Returns rows appended",
        Seq(p("pairs_table", StringType), p("a_col", StringType),
          p("b_col", StringType), p("state_dir", StringType),
          ProcedureParameter.in("keep_dir", StringType)
            .defaultValue("''").build()),
        new StructType().add("rows_appended", LongType)) { in =>
          val keep = if (in.isNullAt(4)) "" else in.getUTF8String(4).toString
          Seq(InternalRow(graft.ops.ClusterOps.componentsUpdate(
            SparkSession.active, coll(in).toDF(),
            in.getUTF8String(1).toString, in.getUTF8String(2).toString,
            in.getUTF8String(3).toString,
            keepPath = Option(keep).filter(_.nonEmpty))))
        }
      case "components_cycle" => proc("components_cycle",
        "one consumer cycle over a PERSISTED pairs collection (the " +
          "neardup_probe pairs_dir stream): fold every pair committed " +
          "since cursor_tag's last cycle into the membership state at " +
          "state_dir, then advance the tag — at-least-once replay is " +
          "exactly-once here (duplicate edges are idempotent), and the " +
          "tag pins the floor against retention. keep_dir ('' = skip) " +
          "maintains the materialized keep-list. Returns the new cursor",
        Seq(p("pairs_dir", StringType), p("cursor_tag", StringType),
          p("state_dir", StringType),
          ProcedureParameter.in("keep_dir", StringType)
            .defaultValue("''").build()),
        new StructType().add("cursor_version", LongType)) { in =>
          val keep = if (in.isNullAt(3)) "" else in.getUTF8String(3).toString
          Seq(InternalRow(graft.ops.ClusterOps.componentsCycle(
            SparkSession.active, in.getUTF8String(0).toString,
            in.getUTF8String(1).toString, in.getUTF8String(2).toString,
            keepPath = Option(keep).filter(_.nonEmpty))))
        }
      case "sweep_components" => proc("sweep_components",
        "physically sweep the incremental components membership at " +
          "state_dir against its base table: keep only live members, " +
          "re-rooting each surviving cluster to its smallest LIVE member " +
          "(dead ids leave the state entirely, including as labels) in " +
          "one atomic version-pinned replace; fully-dead clusters " +
          "vanish. keep_dir ('' = skip) rewrites the materialized " +
          "keep-list in the same pass. Corpus-proportional — run when " +
          "takedown churn accumulates; keepList(live) covers the gap. " +
          "Returns member rows swept",
        Seq(p("state_dir", StringType), p("base_table", StringType),
          ProcedureParameter.in("keep_dir", StringType)
            .defaultValue("''").build()),
        new StructType().add("rows_swept", LongType)) { in =>
          val spark = SparkSession.active
          val base = Collection(spark,
            resolve(in.getUTF8String(1).toString).toString)
          val keep = if (in.isNullAt(2)) "" else in.getUTF8String(2).toString
          Seq(InternalRow(graft.ops.ClusterOps.sweepComponents(spark,
            in.getUTF8String(0).toString, base.ids(),
            keepPath = Option(keep).filter(_.nonEmpty))))
        }
      case "components_rebuild" => proc("components_rebuild",
        "batch membership REBUILD: one-shot connected components over " +
          "the ENTIRE pairs collection at its pinned head, written as " +
          "one version-pinned atomic replace of the state under its " +
          "ingest lease — the bootstrap verb for adopting an existing " +
          "pair log, and the scale-safe recovery when an incremental " +
          "fold of the full log would exceed the driver-roots bound " +
          "(components_cycle delegates automatically). keep_dir ('' = " +
          "skip) rewrites the materialized keep-list in the same pass. " +
          "Moves no cursor tag. Returns the rebuilt member-row count",
        Seq(p("pairs_dir", StringType), p("state_dir", StringType),
          ProcedureParameter.in("keep_dir", StringType)
            .defaultValue("''").build()),
        new StructType().add("member_rows", LongType)) { in =>
          val keep = if (in.isNullAt(2)) "" else in.getUTF8String(2).toString
          Seq(InternalRow(graft.ops.ClusterOps.componentsRebuild(
            SparkSession.active, in.getUTF8String(0).toString,
            in.getUTF8String(1).toString,
            keepPath = Option(keep).filter(_.nonEmpty))))
        }
      case "curation_cycle" => proc("curation_cycle",
        "one incremental CURATION cycle: fold the membership state's " +
          "changes since cursor_tag into the persisted doc-keyed DROP " +
          "LIST at drop_dir (non-representative cluster members upsert, " +
          "docs that are their cluster's keeper tombstone) using the " +
          "materialized keep-list at keep_dir for the keeper lookup — " +
          "the downstream dedup consumer a training pipeline anti-joins; " +
          "at-least-once replay is exactly-once (pure status recompute). " +
          "Run after components_cycle in the same loop. Returns the new " +
          "cursor version",
        Seq(p("state_dir", StringType), p("cursor_tag", StringType),
          p("keep_dir", StringType), p("drop_dir", StringType)),
        new StructType().add("cursor_version", LongType)) { in =>
          Seq(InternalRow(graft.ops.ClusterOps.curationCycle(
            SparkSession.active, in.getUTF8String(0).toString,
            in.getUTF8String(1).toString, in.getUTF8String(2).toString,
            in.getUTF8String(3).toString)))
        }
      case "drop_list_view" => proc("drop_list_view",
        "register a TEMP VIEW of the resolved drop list maintained by " +
          "curation_cycle: (doc_id, cluster, keep_id), keyed LWW so " +
          "promoted keepers are tombstoned out — survivors = corpus " +
          "ANTI JOIN this view",
        Seq(p("drop_dir", StringType), p("view", StringType)),
        new StructType().add("view", StringType)) { in =>
          val view = in.getUTF8String(1).toString
          graft.ops.ClusterOps.dropList(SparkSession.active,
            in.getUTF8String(0).toString).createOrReplaceTempView(view)
          Seq(InternalRow(UTF8String.fromString(view)))
        }
      case "sweep_pairs" => proc("sweep_pairs",
        "pair-log RETENTION: replace the consumed pair log with the " +
          "membership state's STAR EDGES — closure-identical, " +
          "membership-proportional instead of history-proportional. " +
          "Refuses loudly unless EVERY consumer cursor tag sits at the " +
          "log's head (a lagging cursor's unconsumed windows would be " +
          "destroyed); concurrent appends after the pin survive the " +
          "version-pinned replace. Returns log rows removed",
        Seq(p("pairs_dir", StringType), p("state_dir", StringType)),
        new StructType().add("rows_removed", LongType)) { in =>
          Seq(InternalRow(graft.ops.ClusterOps.sweepPairs(
            SparkSession.active, in.getUTF8String(0).toString,
            in.getUTF8String(1).toString)))
        }
      case "loop_health" => proc("loop_health",
        "operator dashboard for a composed dedup loop: the pair log's " +
          "consumer LAG (head version minus cursor_tag's pinned " +
          "version; -1 when the tag does not exist yet), the state and " +
          "keep collections' segment counts (bin-pack pressure; -1 " +
          "when absent / '' skipped), the exactly-once protocol " +
          "breaks recorded for rollup_dir ('' = skip, reported 0), and " +
          "the pair-log vs membership live-row counts (a log far above " +
          "its state is reclaimable history — run sweep_pairs) — one " +
          "CALL answering 'is tonight's loop healthy' without grepping " +
          "driver logs",
        Seq(p("pairs_dir", StringType), p("cursor_tag", StringType),
          p("state_dir", StringType),
          ProcedureParameter.in("keep_dir", StringType)
            .defaultValue("''").build(),
          ProcedureParameter.in("rollup_dir", StringType)
            .defaultValue("''").build()),
        new StructType().add("pairs_head", LongType)
          .add("cursor_version", LongType).add("lag", LongType)
          .add("state_segments", LongType).add("keep_segments", LongType)
          .add("protocol_breaks", LongType)
          .add("pairs_rows", LongType).add("state_rows", LongType)) { in =>
          val spark = SparkSession.active
          // manifest-exact live rows (rows − tombstones − dv deletes):
          // pairs_rows vs state_rows is the sweep_pairs pressure gauge —
          // a log far above its membership is mostly reclaimable history
          def liveRows(dir: String): Long = {
            val p = java.nio.file.Paths.get(dir)
            if (dir.isEmpty ||
                !graft.meta.CollectionMeta.collectionCommitted(p)) -1L
            else try graft.meta.CollectionMeta.currentManifest(p)
              .segments.map(s => s.rows - s.tombstones - s.dvDeletes).sum
            catch { case _: Exception => -1L }
          }
          def segs(dir: String): Long = {
            // absent collection must read -1, not 0: currentManifest
            // returns an empty placeholder (not an error) for a missing
            // directory, and "0 segments, looks healthy" would mask a
            // mis-pointed state_dir — the exact misconfiguration this
            // dashboard exists to surface
            val p = java.nio.file.Paths.get(dir)
            if (dir.isEmpty ||
                !graft.meta.CollectionMeta.collectionCommitted(p)) -1L
            else try graft.meta.CollectionMeta.currentManifest(p)
              .segments.size.toLong
            catch { case _: Exception => -1L }
          }
          val pairsDir = in.getUTF8String(0).toString
          val tag = in.getUTF8String(1).toString
          val (head, cur) =
            try {
              val pc = Collection(spark, pairsDir)
              (pc.version, pc.tags.getOrElse(tag, -1L))
            } catch { case _: Exception => (-1L, -1L) }
          val keep = if (in.isNullAt(3)) "" else in.getUTF8String(3).toString
          val rollup = if (in.isNullAt(4)) "" else in.getUTF8String(4).toString
          val breaks =
            if (rollup.isEmpty) 0L
            else graft.api.IncrementalRollup.protocolBreaks(
              java.nio.file.Paths.get(rollup))
          Seq(InternalRow(head, cur,
            if (head < 0 || cur < 0) -1L else head - cur,
            segs(in.getUTF8String(2).toString), segs(keep), breaks,
            liveRows(pairsDir), liveRows(in.getUTF8String(2).toString)))
        }
      case "keep_list_view" => proc("keep_list_view",
        "register a TEMP VIEW of the materialized keep-list maintained " +
          "by components_update/components_cycle keep_dir (resolved " +
          "keyed LWW: each cluster serves its latest row, merged-away " +
          "roots are tombstoned) — the point-lookup-cheap read the " +
          "nightly consumer uses instead of re-aggregating membership",
        Seq(p("keep_dir", StringType), p("view", StringType)),
        new StructType().add("view", StringType)) { in =>
          val view = in.getUTF8String(1).toString
          graft.ops.ClusterOps.keepListMaterialized(SparkSession.active,
            in.getUTF8String(0).toString).createOrReplaceTempView(view)
          Seq(InternalRow(UTF8String.fromString(view)))
        }
      case "rollup_health" => proc("rollup_health",
        "exactly-once health of a rollup table: the number of detected " +
          "protocol breaks (a cycle's MERGE committed without its " +
          "applied-version record — double-apply-on-crash exposure) " +
          "since this JVM started. Non-zero means re-bootstrap before " +
          "trusting the rollup; the benign no-op-MERGE race never " +
          "counts here",
        Seq(p("rollup_table", StringType)),
        new StructType().add("protocol_breaks", LongType)) { in =>
          Seq(InternalRow(graft.api.IncrementalRollup.protocolBreaks(
            resolve(in.getUTF8String(0).toString))))
        }
      case "components_view" => proc("components_view",
        "register a TEMP VIEW of the resolved (doc_id, cluster) " +
          "membership maintained by components_update (min-resolved: " +
          "duplicate rows from a crashed update collapse soundly)",
        Seq(p("state_dir", StringType), p("view", StringType)),
        new StructType().add("view", StringType)) { in =>
          val view = in.getUTF8String(1).toString
          graft.ops.ClusterOps.components(SparkSession.active,
            in.getUTF8String(0).toString).createOrReplaceTempView(view)
          Seq(InternalRow(UTF8String.fromString(view)))
        }
      case "sweep_lsh_index" => proc("sweep_lsh_index",
        "physically sweep a near-dup LSH index (text or embedding) " +
          "against its base table: rewrite sets+bands keeping only docs " +
          "still live in the base — version-pinned replace commits, so a " +
          "concurrent probe+extend survives. Corpus-proportional by " +
          "definition: run when delete churn accumulates; neardup_probe's " +
          "live_table covers the gap between sweeps. Returns docs swept",
        Seq(p("index_dir", StringType), p("base_table", StringType)),
        new StructType().add("docs_swept", LongType)) { in =>
          val spark = SparkSession.active
          val base = Collection(spark, resolve(in.getUTF8String(1).toString).toString)
          Seq(InternalRow(graft.ops.DedupOps.sweepLshIndex(spark,
            in.getUTF8String(0).toString, base.ids())))
        }
      case "resolved_view" => proc("resolved_view",
        "register a TEMP VIEW of the RESOLVED state of a keyed table — " +
          "latest version per key, tombstones removed. A plain SQL scan " +
          "deliberately keeps reference scan() parity (shadowed versions " +
          "included, merge-on-read); this is the pure-SQL route to the " +
          "LWW view the Collection API's toDF() serves, completing the " +
          "SQL consumer loop (rollup_* write it, this reads it). The " +
          "view is lazy and fully distributed; only this descriptor row " +
          "is driver-local. PINNED to the returned version (a commit " +
          "between CALL and SELECT must not serve newer data) — manifest " +
          "retention applies, so re-CALL per consumer cycle rather than " +
          "caching the view across many commits (or create_tag the " +
          "version to exempt it from retention)",
        Seq(p("table", StringType), p("view", StringType)),
        new StructType().add("view", StringType)
          .add("version", LongType)) { in =>
          val c = coll(in)
          val view = in.getUTF8String(1).toString
          // pin the view to the version the descriptor reports: a
          // commit landing between CALL and the operator's SELECT must
          // not make the view serve data newer than it claims
          val v = c.version
          c.resolvedAsOf(v).createOrReplaceTempView(view)
          Seq(InternalRow(UTF8String.fromString(view), v))
        }
      case "history" => proc("history",
        "commit audit over the retained manifest versions, newest first " +
          "(DESCRIBE HISTORY analog)",
        Seq(p("table", StringType)),
        new StructType().add("version", LongType).add("operation", StringType)
          .add("n_segments", LongType).add("n_rows", LongType)
          .add("n_bytes", LongType).add("mutated", BooleanType)
          .add("generation", LongType)) { in =>
          // bounded: one row per RETAINED manifest (retention-capped)
          coll(in).history().collect().toSeq.map(r => InternalRow(
            r.getLong(0), UTF8String.fromString(r.getString(1)), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getBoolean(5), r.getLong(6)))
        }
      case other => throw new IllegalArgumentException(
        s"hadro: no procedure system.$other (available: ${names.mkString(", ")})")
    }
  }

  private def p(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def proc(procName: String, desc: String,
      params: Seq[ProcedureParameter], outSchema: StructType)(
      body: InternalRow => Seq[InternalRow]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = desc
        override def parameters(): Array[ProcedureParameter] = params.toArray
        // every procedure commits (or deletes) state — never cacheable
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val out = body(input).toArray
          java.util.Collections.singletonList[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = out
            override def readSchema(): StructType = outSchema
          }).iterator()
        }
      }
    }
}
