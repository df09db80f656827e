package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.api.Collection.{MaxKeyPushdown, boundedKeyLits, boundedRows}

/** A [[ClusterOps.componentsUpdate]] window touched more distinct
  * clusters than `maxDriverRoots` — the driver-resident root collect is
  * bounded by |batch docs| BY CONTRACT, and a corpus-sized "window" (a
  * whole-log backfill fed as one batch) must fail loudly before it OOMs
  * the driver. A dedicated type so recovery paths
  * ([[ClusterOps.componentsCycle]] delegating to
  * [[ClusterOps.componentsRebuild]]) match on the class, never on a
  * message substring. Subclasses IllegalArgumentException so callers
  * (and specs) written against the old `require` are unchanged. */
class TouchedRootsOverBoundException(msg: String)
  extends IllegalArgumentException(msg)

/** Connected components over a near-duplicate pair list — the step every
  * dedup pipeline runs AFTER pair generation: pairs (A,B),(B,C) must
  * collapse into one cluster {A,B,C} with a single kept representative,
  * or transitive duplicates survive filtering.
  *
  * Algorithm: iterative min-label propagation (the MapReduce-era CC
  * shape). Each round every node adopts the minimum label among itself and
  * its neighbors — one shuffle per round, converging in O(diameter)
  * rounds. Near-dup graphs are unions of small dense clusters (diameter
  * ≤ 3 in practice), so 3-5 rounds close virtually all corpora; the loop
  * checks an explicit converged-count and stops early. Lineage is
  * truncated each round (localCheckpoint) so plans don't grow with the
  * iteration count — the classic iterative-Spark footgun. */
object ClusterOps {

  /** Driver-side cap on the bounded fold fast path's member fetch
    * ([[componentsUpdate]]): a window whose touched clusters hold more
    * member rows than this falls back to the distributed fold, which
    * never collects member lists at all. Sized so the fast path covers
    * nightly windows (whose touched subgraphs are batch-proportional)
    * while a giant cluster touched by one pair stays cluster-side. */
  private val MaxDriverFoldMembers: Int = 1 << 16

  /** The stored schemas of the collections the loop verbs create: the
    * membership state, the materialized keep-list and the drop list.
    * Declared once, so a collection's stored nullability never depends
    * on which half computed its first frame (driver tuples are
    * non-nullable, distributed aggregates and outer joins nullable).
    * Keys are non-null; the keep-list's `keep_id`/`n_members` are
    * nullable because its merges carry NULL tombstone rows. */
  private val StateSchema =
    StructType.fromDDL("doc_id BIGINT NOT NULL, cluster BIGINT NOT NULL")
  private val KeepSchema = StructType.fromDDL(
    "cluster BIGINT NOT NULL, keep_id BIGINT, n_members BIGINT")
  private val DropSchema = StructType.fromDDL(
    "doc_id BIGINT NOT NULL, cluster BIGINT NOT NULL, keep_id BIGINT NOT NULL")

  /** `rows`' columns of `schema`, re-typed to its declared nullability
    * (write a collection-creating frame through this). */
  private def declared(rows: DataFrame, schema: StructType): DataFrame =
    rows.sparkSession.createDataFrame(
      rows.select(schema.fieldNames.toSeq.map(col): _*).rdd, schema)

  /** `pairs`: two long columns (first < second convention not required).
    * Returns (node, cluster) where cluster = min node id reachable. Nodes
    * appearing only on one side are included; singletons absent from
    * `pairs` are by definition their own cluster and not emitted. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 10): DataFrame = {
    // Persist the pair list FIRST: both direction branches of the edge
    // union consume it, and upstream is typically a whole dedup pipeline
    // that must not run twice.
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = p.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(p.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Round 0 folded into initialization: the first propagation round's
    // result is just min(node, min(neighbors)) — computing it directly at
    // init saves one full join+checkpoint+count cycle from the loop.
    var labels = edges.groupBy(col("src").as("node"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("node", "dst")
          .withColumnRenamed("label", "nbr_label"), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(min(col("nbr_label")).as("nbr_min"))
      // LAZY checkpoint + count in ONE action: the count job materializes
      // the checkpoint partitions as it runs, so each round costs a single
      // Spark job (an eager checkpoint followed by a separate convergence
      // probe would be two).
      val next = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"), col("label"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("new_label"))
        .localCheckpoint(false) // truncate lineage before reuse below
      converged = next.filter(col("new_label") < col("label")).count() == 0L
      labels = next.select(col("node"), col("new_label").as("label"))
      iter += 1
    }
    edges.unpersist()
    p.unpersist()
    // A chain with diameter > maxIter would otherwise return silently SPLIT
    // clusters — transitive duplicates surviving dedup undetected. Near-dup
    // graphs have tiny diameters, so non-convergence means maxIter is
    // mis-set for the input; say so rather than corrupt quietly.
    if (!converged) org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"connectedComponents did NOT converge within $maxIter rounds - " +
        "labels may split one true cluster into several; raise maxIter " +
        "for graphs with long duplicate chains")
    labels.withColumnRenamed("label", "cluster")
  }

  /** Connected components via alternating large-star/small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    * public algorithm). Converges in O(log n) rounds regardless of graph
    * diameter, where plain min-propagation needs O(diameter): a duplicate
    * CHAIN of length 10,000 (each doc near-dup of the next — versioned
    * pages, incremental edits) closes in ~14 rounds instead of 10,000.
    *
    * large-star: every node's strictly-greater neighbors re-point to the
    * minimum of its closed neighborhood; small-star: every node's smaller
    * neighbors (and itself) re-point to their minimum. Both are one
    * groupBy + one join — key-equality shuffles, nothing quadratic; edge
    * count never grows beyond the input. Fixpoint = a forest of stars,
    * detected by an (edge-count, xxhash64-sum) signature match between
    * rounds — one action per round on the checkpointed frame.
    *
    * Same contract as [[connectedComponents]]: returns (node, cluster),
    * cluster = min reachable id; singletons not in `pairs` are omitted. */
  def connectedComponentsAltStar(pairs: DataFrame, aCol: String,
      bCol: String, maxIter: Int = 25): DataFrame = {
    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    // Hash-sum through DECIMAL: a long sum of 64-bit hashes overflows (and
    // ANSI mode makes that a hard error, not a wrap).
    def signature(df: DataFrame): (Long, String) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toString)
    }
    var sig = signature(edges)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // large-star, from every node's perspective (both edge directions):
      // center c, neighbors n; m = min(c, min(n)); greater neighbors
      // re-point to m. m <= c < n, so (n, m) is already canonical (u > v).
      val bidir = edges.select(col("u").as("c"), col("v").as("n"))
        .unionByName(edges.select(col("v").as("c"), col("u").as("n")))
      val lsMin = bidir.groupBy("c").agg(min(col("n")).as("mn"))
        .select(col("c"), least(col("c"), col("mn")).as("m"))
      // No distinct here: duplicate (u, v) edges from different centers
      // are rare, harmless to the small-star mins, and folded by the
      // round-final distinct — dropping the dedup saves a full shuffle
      // per round in the iterative hot loop.
      val large = bidir.join(lsMin, Seq("c"))
        .filter(col("n") > col("c"))
        .select(col("n").as("u"), col("m").as("v"))
      // small-star on canonical edges: center u (the larger endpoint),
      // neighbors v < u; m = min(v); every v re-points to m (v = m drops
      // as a self-loop) and u re-points to m.
      val ssMin = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = large.join(ssMin, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(ssMin.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(false) // lazy: the signature action materializes it
      val nextSig = signature(small)
      converged = nextSig == sig
      sig = nextSig
      edges = small
      iter += 1
    }
    if (!converged) org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"connectedComponentsAltStar did NOT converge within $maxIter rounds")
    // At the star fixpoint every edge is (leaf -> root) and every root
    // appears only on the v side; the union + min guards the (unconverged)
    // case where a node still carries several parents.
    edges.select(col("u").as("node"), col("v").as("cluster"))
      .unionByName(edges.select(col("v").as("node"), col("v").as("cluster")))
      .groupBy("node").agg(min(col("cluster")).as("cluster"))
  }

  /** The keep-row shape — (cluster, keep_id = min member, n_members) —
    * every maintainer of the materialized keep-list derives from a
    * (doc_id, cluster) membership frame. ONE definition serves
    * [[componentsUpdate]], [[keepList]], [[componentsRebuild]] and
    * [[sweepComponents]], so the keeper rule cannot silently diverge
    * between the read-side view and any of its materializers. */
  private def keepRows(members: DataFrame): DataFrame =
    members.groupBy(col("cluster"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_members"))

  /** INCREMENTAL connected components — the nightly twin of
    * [[connectedComponentsAltStar]], maintaining a persisted
    * (doc_id → cluster) membership state as a doc_id-KEYED hadro
    * collection while near-dup PAIR BATCHES arrive (the
    * [[DedupOps.minhashLshIndexProbe]] output stream). The batch path
    * recomputes components over the full pair log every night; this
    * folds each window's pairs into the state touching only the
    * clusters the window connects to:
    *
    *   1. the batch's doc ids (bounded → IN-pushdown into the keyed
    *      state scan, key-bloom pruned) resolve to their CURRENT
    *      cluster roots;
    *   2. members of those touched clusters are pulled with a
    *      `cluster IN (roots)` filter — map-only, segment-stat-pruned;
    *      every OTHER cluster's rows are never read, so the update is
    *      proportional to the touched clusters, not the corpus;
    *   3. components run over the SUBGRAPH only: the batch pairs plus
    *      one (member → root) edge per touched member — prior
    *      connectivity is representable by its star, so the subgraph
    *      is touched-sized;
    *   4. the state mutates with the LSH-index discipline: new and
    *      re-rooted rows APPEND first, then the superseded rows are
    *      deletion-vector-masked with `cluster IN (changedRoots)` — a
    *      whole cluster re-roots or none of it does, so the stale set
    *      is expressible by its old roots alone (never a member-list
    *      collect), and the `mutated` flag stays false.
    *
    * CRASH SAFETY: cluster ids are the component's minimum doc id, and
    * components only ever MERGE (pairs are never retracted), so a
    * node's root can only DECREASE — a crash between the append and
    * the delete leaves duplicate rows whose min() is the correct
    * label. [[components]] min-resolves on read, and the retried
    * update (idempotent: identical rows are never re-appended, stale
    * roots re-detect) converges the state. Updates on one state
    * serialize on the same per-path ingest lease as the LSH index
    * (concurrent unfenced folds could each miss the other's merges).
    *
    * BATCH-BOUNDED CONTRACT (the [[DedupOps.minhashLshIndexProbe]]
    * discipline): the only driver materializations are the touched-
    * cluster ROOT sets — bounded by |batch docs|, never by corpus or
    * membership size (member lists are collected ONLY on the bounded
    * fast path, under [[MaxDriverFoldMembers]]; the distributed fold
    * never collects them). That bound is a contract, not an accident: a
    * whole-log backfill fed as ONE window would drive a corpus-scale
    * root collect, so `maxDriverRoots` fails it loudly with windowing
    * guidance instead of OOMing the driver — replay a backlog through
    * windows (which is also what keeps each fold touched-cluster-
    * proportional).
    *
    * Doc takedowns: [[keepList]]`(live)` drops dead members read-side
    * per query (the d31 pattern), and [[sweepComponents]] physically
    * reclaims accumulated churn; membership folds themselves are
    * merge-only, matching the batch CC contract (singletons never
    * stored). Returns the number of state rows appended this window. */
  def componentsUpdate(spark: org.apache.spark.sql.SparkSession,
      newPairs: DataFrame, aCol: String, bCol: String, statePath: String,
      maxDriverRoots: Int = DedupOps.DefaultMaxStateSplit,
      keepPath: Option[String] = None,
      maxStateFiles: Int = 64): Long =
    DedupOps.withIngestLease(statePath, enabled = true) {
    val p = java.nio.file.Paths.get(statePath)
    // checkpointed lazily (see Collection.boundedRows): both halves read
    // it, so an over-bound window runs the caller's pipeline once
    val pairs = newPairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(eager = false)
    val exists = graft.meta.CollectionMeta.collectionCommitted(p)
    import spark.implicits._
    // the maxDriverRoots CONTRACT, checked by both halves before any
    // commit (the dedicated type keeps componentsCycle's rebuild
    // delegation working)
    def rootsOverBound = new TouchedRootsOverBoundException(
      s"hadro: componentsUpdate window touches more than " +
        s"$maxDriverRoots distinct clusters — the root collect is " +
        "driver-resident and bounded by |batch docs| by contract; " +
        "fold a backfill of this size in windows instead of one " +
        "batch (or componentsRebuild for a full pair log), or " +
        "raise maxDriverRoots if the driver is sized for it")
    // One of two halves COMPUTES the window, picked by its size; the one
    // tail below COMMITS it. A half returns the keep changeset (present
    // iff keepPath is: the touched clusters' keep rows plus a
    // `_keep_del` tombstone per merged-away root), the changed roots,
    // the state rows to append and their count.
    type Window = (Option[DataFrame], Seq[Long], DataFrame, Long)
    // BOUNDED DRIVER-SIDE FOLD (fast path): when the window's pair set
    // AND the touched clusters' member rows both fit the bounded-probe
    // discipline, the whole fold — components, changed roots, keep rows,
    // append set — is plain driver arithmetic over two point reads of
    // the keyed state. The distributed fold below spends ~12 actions'
    // fixed job cost per window (pair checkpoint, root fetches, the
    // iterative alt-star rounds, keep/append checkpoints) computing the
    // same thing over frames of a few hundred rows — the composed
    // loops' per-window latency floor (guide §2.4). The union-find
    // reproduces connectedComponentsAltStar's contract exactly: cluster
    // label = min reachable id over batch edges ∪ (member → root) star
    // edges. Member rows are fetched ONLY under MaxDriverFoldMembers;
    // anything larger returns None and the distributed fold — which
    // never collects member lists at all — runs unchanged.
    def driverFold(): Option[Window] = {
      val pairRows = boundedRows(pairs, MaxKeyPushdown).getOrElse(return None)
      val edges = pairRows.map(r => (r.getLong(0), r.getLong(1)))
      val batchDocs = edges.iterator
        .flatMap(e => Iterator(e._1, e._2)).toSeq.distinct
      val oldRows: Array[(Long, Long)] =
        if (!exists || batchDocs.isEmpty) Array.empty
        else {
          val coll = graft.api.Collection(spark, statePath)
          val state = coll.scanVersion(coll.version)
          // distinct roots <= |batch docs|; over it is defensive
          val roots = boundedRows(state.filter(col("doc_id")
              .isin(batchDocs: _*)).select(col("cluster")).distinct(),
            batchDocs.size).getOrElse(return None).map(_.getLong(0)).toSeq
          // the fast path's roots are batch-bounded by construction, but
          // a caller-lowered bound must still refuse
          if (roots.size > maxDriverRoots) throw rootsOverBound
          if (roots.isEmpty) Array.empty
          else boundedRows(state.filter(col("cluster").isin(roots: _*))
              .select(col("doc_id"), col("cluster")), MaxDriverFoldMembers)
            .getOrElse(return None).map(r => (r.getLong(0), r.getLong(1)))
        }
      // union-find, min-label roots: cluster = min reachable id
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nx = parent(c); parent(c) = r; c = nx
        }
        r
      }
      def union(a: Long, b: Long): Unit = {
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val nodes = scala.collection.mutable.LinkedHashSet.empty[Long]
      edges.foreach { case (a, b) => nodes += a; nodes += b; union(a, b) }
      oldRows.foreach { case (d, c) =>
        nodes += d; nodes += c; if (d != c) union(d, c)
      }
      val labels = nodes.iterator.map(n => (n, find(n))).toArray
      val roots = oldRows.iterator.map(_._2).toSet
      // a touched cluster re-roots atomically or not at all: changed =
      // old roots whose own new label moved (roots only decrease)
      val changedRoots = roots.filter(r => find(r) != r).toSeq.sorted
      val keepChanges = keepPath.map { _ =>
        val kept = labels.groupBy(_._2).iterator.map { case (c, ms) =>
          (c, Option(ms.iterator.map(_._1).min), Option(ms.length.toLong),
            false)
        }.toSeq.sortBy(_._1)
        (kept ++ changedRoots.map(c => (c, None, None, true)))
          .toDF("cluster", "keep_id", "n_members", "_keep_del")
      }
      // rows that stand: members of UNchanged clusters — everything else
      // (fresh docs, re-rooted members) appends
      val changedSet = changedRoots.toSet
      val unchangedDocs = oldRows.iterator
        .filter(r => !changedSet.contains(r._2)).map(_._1).toSet
      val toAppend = labels.filter(l => !unchangedDocs.contains(l._1))
      Some((keepChanges, changedRoots,
        toAppend.toSeq.toDF("doc_id", "cluster"), toAppend.length.toLong))
    }
    def distributedFold(): Window = {
      val batchDocs = pairs.select(col("a").as("doc_id"))
        .unionByName(pairs.select(col("b").as("doc_id"))).distinct()
      // current rows of every touched cluster (pinned version)
      val old: DataFrame =
        if (!exists) pairs.select(col("a").as("doc_id"), col("a").as("cluster")).limit(0)
        else {
          val coll = graft.api.Collection(spark, statePath)
          val state = coll.scanVersion(coll.version)
          // over-bound batches take a PLAIN semi-join, never a forced
          // broadcast: a corpus-sized batch (the full-log fold
          // componentsCycle attempts before delegating to the rebuild)
          // would OOM the driver inside an explicit broadcast() BEFORE
          // the roots bound below could fire — AQE still auto-broadcasts
          // genuinely small over-1000-doc batches from runtime stats
          val touched0 = boundedKeyLits(batchDocs, MaxKeyPushdown)
            .fold(state.join(batchDocs, Seq("doc_id"), "left_semi"))(
              vs => state.filter(col("doc_id").isin(vs: _*)))
          val roots = boundedRows(touched0.select(col("cluster")).distinct(),
            maxDriverRoots).getOrElse(throw rootsOverBound)
            .map(_.getLong(0)).toSeq
          if (roots.isEmpty) state.limit(0)
          else state.filter(col("cluster").isin(roots: _*))
        }
      val oldCk = old.localCheckpoint()
      // subgraph: batch pairs + one star edge per touched member. A root's
      // own (root, root) row drops as a self-loop; the root still joins
      // the subgraph through its members' star edges.
      val labels = connectedComponentsAltStar(
        pairs.unionByName(
          oldCk.select(col("doc_id").as("a"), col("cluster").as("b"))
            .filter(col("a") =!= col("b"))),
        "a", "b")
        .select(col("node").as("doc_id"), col("cluster")).localCheckpoint()
      // a touched cluster re-roots atomically or not at all: changed =
      // old roots whose own new label moved (roots only decrease)
      val changedRoots = oldCk.select(col("cluster")).distinct()
        .join(labels.withColumnRenamed("cluster", "new_c")
          .withColumnRenamed("doc_id", "cluster"), Seq("cluster"))
        .filter(col("new_c") =!= col("cluster"))
        .select(col("cluster")).collect().map(_.getLong(0)).toSeq
      // labels covers EVERY member of every touched cluster, so the
      // aggregated counts are complete; untouched clusters' rows are
      // never read or written
      val keepChanges = keepPath.map { _ =>
        keepRows(labels).localCheckpoint()
          .withColumn("_keep_del", lit(false))
          .unionByName(changedRoots.toDF("cluster")
            .withColumn("keep_id", lit(null).cast("long"))
            .withColumn("n_members", lit(null).cast("long"))
            .withColumn("_keep_del", lit(true)))
      }
      // rows that stand: members of UNchanged clusters — everything else
      // (fresh docs, re-rooted members) appends. Subgraph-sized join;
      // never corpus-sized, never a member-list driver collect.
      val unchangedOld =
        if (changedRoots.isEmpty) oldCk
        else oldCk.filter(!col("cluster").isin(changedRoots: _*))
      val toAppend = labels
        .join(unchangedOld.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      (keepChanges, changedRoots, toAppend, toAppend.count())
    }
    val (keepChanges, changedRoots, toAppend, appended) =
      driverFold().getOrElse(distributedFold())
    // ONE COMMIT ORDER for every window: keep MERGE → state append → DV
    // delete → compaction.
    //
    // MATERIALIZED KEEP-LIST maintenance (the h96 partial-recompute
    // shape applied to d36's read): upsert exactly the TOUCHED clusters'
    // (cluster, keep_id, n_members) rows into a cluster-KEYED collection
    // and delete the roots that merged away, so the nightly consumer
    // reads a point-lookup-cheap table instead of paying two
    // membership-sized shuffles per keepList() call. Runs BEFORE the
    // state mutation: a crash anywhere in this window replays against
    // the UNMUTATED state, recomputes the same labels/changedRoots, and
    // heals (delete is a no-op, upsert is LWW-idempotent) — whereas
    // maintenance after the state commit could never re-detect a merged-
    // away root on replay (the fold is a no-op then) and would leak its
    // phantom keep row forever.
    for ((kp, changes) <- keepPath.zip(keepChanges)) {
      val keepExists = graft.meta.CollectionMeta.collectionCommitted(
        java.nio.file.Paths.get(kp))
      if (!keepExists && !exists)
        // day 0 of the whole loop: the touched clusters ARE the state
        // (and no root can have changed)
        declared(changes, KeepSchema)
          .write.format("hadro").mode("overwrite")
          .option("hadro.key", "cluster").save(kp)
      else {
        // keepPath first supplied AFTER the state accumulated clusters:
        // a touched-only bootstrap would permanently miss every
        // UNTOUCHED pre-existing cluster — backfill the full keep-list
        // from the (not yet mutated) pre-window membership first, a
        // one-time corpus-proportional cost, then apply this window's
        // touched rows like any other window.
        if (!keepExists)
          declared(keepList(spark, statePath), KeepSchema)
            .write.format("hadro").mode("overwrite")
            .option("hadro.key", "cluster").save(kp)
        // ONE atomic commit for the whole window's keep maintenance:
        // the merged-away roots' tombstones and the touched clusters'
        // upserts ride a single CDC merge (the h23 primitive), so no
        // crash point can expose a keep-list with the old roots deleted
        // but their replacement rows not yet written.
        if (changedRoots.nonEmpty || !changes.isEmpty)
          graft.api.Collection(spark, kp).merge(changes, col("_keep_del"))
      }
    }
    if (appended > 0)
      (if (exists) toAppend.write.mode("append")
       else declared(toAppend, StateSchema).write.mode("overwrite"))
        .format("hadro").option("hadro.key", "doc_id").save(statePath)
    if (changedRoots.nonEmpty)
      graft.spark.HadroDeleteSupport.dvDeleteWhere(p,
        col("cluster").isin(changedRoots: _*))
    // bounded small segments, the LSH-index discipline: a nightly loop
    // appends a few rows per window FOREVER — bin-pack (atomic replace,
    // reader-safe via deferred GC) once the segment count crosses the
    // threshold, or the state scan's open cost grows without bound
    if (exists || appended > 0) {
      DedupOps.maybeCompactIndex(
        graft.api.Collection(spark, statePath), maxStateFiles)
      keepPath.foreach(kp => DedupOps.maybeCompactIndex(
        graft.api.Collection(spark, kp), maxStateFiles))
    }
    appended
  }

  /** The resolved membership view for [[componentsUpdate]] state:
    * (doc_id, cluster). min() per doc soundly collapses the duplicate
    * rows a crashed update can leave (roots only decrease); in the
    * steady state each doc has exactly one live row. */
  def components(spark: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame =
    graft.api.Collection(spark, statePath).scan()
      .groupBy(col("doc_id")).agg(min(col("cluster")).as("cluster"))

  /** The CLUSTER KEEP-LIST — what a dedup pipeline actually consumes
    * from [[componentsUpdate]] state: one row per duplicate cluster
    * with its kept representative and member count. `live` (a
    * one-column id frame, e.g. `collection.ids()`) makes it
    * takedown-aware: dead members drop before the keep choice, so the
    * representative is the smallest doc that still EXISTS — the d31
    * pattern applied downstream (membership itself is merge-only; the
    * liveness filter is a read-side concern, never a state rewrite). A
    * cluster whose members all died disappears. One key-equality
    * semi-join (doc_id) plus one cluster-keyed aggregation — both plain
    * shuffles on id columns, nothing corpus-quadratic. Singleton docs
    * never enter membership, so the keep-list covers exactly the
    * multi-doc clusters (everything else is kept by definition).
    * Returns (cluster, keep_id, n_members). */
  def keepList(spark: org.apache.spark.sql.SparkSession, statePath: String,
      live: Option[DataFrame] = None): DataFrame = {
    val m = components(spark, statePath)
    val alive = live.fold(m)(l =>
      m.join(l.select(col(l.columns.head).as("doc_id")),
        Seq("doc_id"), "left_semi"))
    keepRows(alive)
  }

  /** The MATERIALIZED keep-list maintained by [[componentsUpdate]]'s
    * `keepPath` (and rewritten by [[sweepComponents]]): the resolved
    * (cluster, keep_id, n_members) view — keyed LWW, so each cluster
    * serves its latest upsert and merged-away roots are tombstoned.
    * Point-lookup cheap; never a membership-sized shuffle. */
  def keepListMaterialized(spark: org.apache.spark.sql.SparkSession,
      keepPath: String): DataFrame =
    graft.api.Collection(spark, keepPath).toDF()

  /** ONE CONSUMER CYCLE over a persisted near-dup PAIR collection (the
    * [[DedupOps.minhashLshIndexProbe]] `pairsSink` output): fold every
    * pair committed since this cursor's last cycle into the membership
    * state, then advance the cursor tag on the pairs collection — the
    * h91 changefeed-consumer shape applied to the dedup pipeline, so the
    * probe→fold composition survives crashes (a window's pairs live in
    * the pairs collection, not in a return value).
    *
    * AT-LEAST-ONCE is EXACTLY-ONCE here, so no applied-version stamp is
    * needed (contrast [[graft.api.IncrementalRollup.cycle]], whose MERGE
    * deltas are not idempotent): re-folding a window's pairs is a
    * provable no-op — duplicate edges change no component, labels
    * re-derive identically, and [[componentsUpdate]] appends only rows
    * that differ from the state. A crash between the fold and the tag
    * move simply replays the window. The cursor tag also PINS the floor
    * version against retention/GC, exactly as the rollup cursors do.
    * First cycle (no tag yet) folds the ENTIRE pairs collection at the
    * pinned head. Returns the new cursor version. */
  def componentsCycle(spark: org.apache.spark.sql.SparkSession,
      pairsPath: String, cursorTag: String, statePath: String,
      aCol: String = "doc_a", bCol: String = "doc_b",
      maxDriverRoots: Int = DedupOps.DefaultMaxStateSplit,
      keepPath: Option[String] = None,
      maxStateFiles: Int = 64): Long = {
    // the probe skips empty windows' appends, so early cycles can run
    // before the pairs collection exists at all — nothing to fold yet
    val exists = graft.meta.CollectionMeta.collectionCommitted(
      java.nio.file.Paths.get(pairsPath))
    if (!exists) return 0L
    val pairs = graft.api.Collection(spark, pairsPath)
    val head = pairs.version
    def fold(w: DataFrame): Unit = {
      componentsUpdate(spark, w.select(col(aCol), col(bCol)), aCol, bCol,
        statePath, maxDriverRoots, keepPath, maxStateFiles)
      ()
    }
    // FULL-snapshot fold with the scale-safe escape hatch: a root-heavy
    // full log (first cycle adopting an existing pair collection, or the
    // compaction-crossed recovery below) would trip componentsUpdate's
    // driver-roots bound with advice the operator cannot action from a
    // compacted snapshot ("fold in windows") — delegate to
    // [[componentsRebuild]], which computes the SAME state (membership
    // is a pure function of the pair log) with no driver-resident root
    // set at all. A BOUNDED count of the log's distinct doc ids (touched
    // roots <= batch docs, so over-bound docs is the sound trigger; one
    // number reaches the driver) routes corpus-scale logs straight to
    // the rebuild WITHOUT first paying the fold's corpus-sized probe
    // work; the catch below stays as the exact backstop for logs whose
    // doc count passes the pre-check but whose touched-root set still
    // trips the bound (it throws before any state mutation, so the
    // delegation starts clean either way).
    def foldFullOrRebuild(): Unit = {
      val full = pairs.scanVersion(head)
      val manyDocs = full.select(col(aCol).as("d"))
        .unionByName(full.select(col(bCol).as("d"))).distinct()
        .limit(maxDriverRoots + 1).count() > maxDriverRoots
      if (manyDocs) {
        componentsRebuild(spark, pairsPath, statePath, aCol, bCol, keepPath)
        ()
      } else
        try fold(full)
        catch {
          case _: TouchedRootsOverBoundException =>
            componentsRebuild(spark, pairsPath, statePath, aCol, bCol,
              keepPath)
            ()
        }
    }
    pairs.tags.get(cursorTag) match {
      case Some(f) if f >= head => () // caught up
      case None => foldFullOrRebuild()
      case Some(f) =>
        // changefeed=full, not a raw ordinal window: the full feed reads
        // through data-preserving compactions of PRE-floor data via the
        // manifest chain walk (the h93 rollup property). Pairs are
        // append-only, so the feed is pure inserts; synthesized delete
        // rows (an operator DV-deleting pair rows) are dropped —
        // membership is merge-only and cannot retract.
        try fold(spark.read.format("hadro")
          .option("hadro.changefeed", "full")
          .option("hadro.changesStart", f.toString)
          .option("hadro.changesEnd", head.toString).load(pairsPath)
          .filter(!col("_hadro_deleted")))
        catch {
          // a bin-pack that consumed IN-window appends (a compaction ran
          // while this consumer lagged) makes window rows unattributable
          // and the walk refuses loudly — with a DEDICATED exception
          // type, so this recovery can never be disabled by a reworded
          // message. Uniquely for this consumer, the refusal's own
          // advice is cheap AND exact: re-fold the FULL snapshot —
          // duplicate edges are idempotent, so replaying already-
          // consumed pairs changes nothing (the randomized composed-
          // pipeline spec pins this path). The input scan is
          // componentsUpdate's first action, so the refusal surfaces
          // before any state mutation and the retry is clean.
          case _: graft.meta.ChangeWindowCompactedException =>
            foldFullOrRebuild()
        }
    }
    // registry BEFORE the tag move: a crash between the two leaves a
    // registered consumer with a stale cursor (safe — retention's lag
    // check covers it) rather than a moved cursor nothing can attribute
    // to a state; both writes are idempotent, the next cycle heals.
    // Steady-state cycles skip the registry write entirely (value
    // unchanged), so the nightly loop gains no extra commit point.
    graft.meta.CollectionMeta.registerConsumer(
      java.nio.file.Paths.get(pairsPath), cursorTag,
      graft.meta.CollectionMeta.canonicalStateDir(statePath))
    pairs.createTag(cursorTag, head)
    head
  }

  /** BATCH membership REBUILD — the bootstrap verb for adopting an
    * existing pair log, and the scale-safe recovery path when an
    * incremental fold of the FULL log is infeasible (a lagging consumer
    * whose changes window a bin-pack crossed, on a log with more
    * distinct clusters than `maxDriverRoots` — [[componentsCycle]]
    * delegates here automatically): one-shot
    * [[connectedComponentsAltStar]] over the ENTIRE pairs collection at
    * its pinned head version, written as ONE version-pinned atomic
    * replace of the membership state (the [[sweepComponents]] commit
    * shape — concurrent unfenced appends survive, pinned readers keep
    * their snapshots via deferred GC) under the state's ingest lease so
    * incremental folds serialize around it. The result provably equals
    * folding every window incrementally: membership is a pure function
    * of the pair set (duplicate edges are idempotent; cluster label =
    * min reachable id). NO driver-resident root set anywhere — the only
    * driver materialization is the alt-star convergence signature —
    * so the rebuild scales to any log the cluster itself can shuffle.
    * `keepPath` rewrites the materialized keep-list in the same pass.
    * Does NOT move any consumer cursor: [[componentsCycle]] owns tag
    * movement. Returns the number of member rows in the rebuilt state. */
  def componentsRebuild(spark: org.apache.spark.sql.SparkSession,
      pairsPath: String, statePath: String,
      aCol: String = "doc_a", bCol: String = "doc_b",
      keepPath: Option[String] = None): Long =
    DedupOps.withIngestLease(statePath, enabled = true) {
      val pc = graft.api.Collection(spark, pairsPath)
      val labels = connectedComponentsAltStar(
        pc.scanVersion(pc.version)
          .select(col(aCol).cast("long").as("a"),
            col(bCol).cast("long").as("b")),
        "a", "b")
        .select(col("node").as("doc_id"), col("cluster"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = labels.count()
        val p = java.nio.file.Paths.get(statePath)
        val exists = graft.meta.CollectionMeta.collectionCommitted(p)
        // keep-list BEFORE the state replace — the componentsUpdate
        // crash-ordering argument: a crash between the two commits
        // leaves a NEW keep-list over the OLD state, and the replayed
        // recovery (fold or rebuild) rewrites both idempotently; the
        // reverse order could commit a rebuilt state whose replayed
        // fold finds nothing changed and never tombstones the clusters
        // the rebuild merged away — permanent phantom keep rows.
        keepPath.foreach { kp =>
          declared(keepRows(labels), KeepSchema)
            .write.format("hadro").mode("overwrite")
            .option("hadro.key", "cluster").save(kp)
        }
        val w = declared(labels, StateSchema)
          .write.format("hadro").mode("overwrite")
          .option("hadro.key", "doc_id")
        if (exists) {
          val m0 = graft.meta.CollectionMeta.currentManifest(p)
          w.option("hadro.compactOf", m0.version.toString)
            .option("hadro.compactOfGen", m0.generation.toString)
        }
        w.save(statePath)
        n
      } finally labels.unpersist()
    }

  /** PAIR-LOG RETENTION — the missing piece of the composed loop's
    * storage story: the pairs collection accrues every window's near-dup
    * pairs FOREVER (bin-packing bounds its segment COUNT, never its row
    * count), while everything any consumer derives from it is the
    * transitive CLOSURE — which the membership state already is. This
    * sweep replaces the consumed log with the state's STAR EDGES (one
    * `(cluster, member)` row per non-root member): provably
    * closure-identical (a component's star reaches exactly its members),
    * membership-proportional instead of history-proportional — a cluster
    * touched by 100 windows carries 100+ log rows but |members|−1 stars.
    *
    * SAFETY CONTRACT: star edges derive from the STATE, which holds only
    * the pairs its consumer has folded — so the verb demands BOTH
    * identity and currency, each refused loudly: (1) `statePath` must be
    * a REGISTERED consumer of this log (the [[componentsCycle]]-written
    * tag→state registry, [[graft.meta.CollectionMeta.readConsumers]]) —
    * a cursor tag alone proves somebody consumed the log, not that THIS
    * state is that somebody, and stars from a swapped or never-cycled
    * state would replace the log with unrelated history; (2) every
    * registered consumer's cursor must sit at (or above) the pinned
    * snapshot being replaced, else a lagging consumer's unconsumed
    * windows would be destroyed. Unregistered tags are snapshot pins,
    * not consumers: they keep their pinned snapshot through the replace
    * (deferred GC honors tag pins) and never block retention. The rewrite is the
    * version-pinned atomic replace (the [[sweepComponents]] commit
    * shape): pairs APPENDED concurrently after the pin survive,
    * re-ordered after the stars; a concurrent sweep aborts on the
    * generation check. The replace bumps the generation, so the next
    * [[componentsCycle]] window that crosses it refuses the changefeed
    * walk and re-folds the full snapshot — stars plus any newer windows,
    * a provable no-op-plus-delta (duplicate edges are idempotent).
    * Synthetic rows carry `score` NULL / `metric` 'star' in the
    * modality-uniform log schema: they are closure bookkeeping, not
    * measured pairs, and stay distinguishable from probe output.
    * Membership is merge-only, so takedowns never retract log rows —
    * dead members' stars persist until [[sweepComponents]] re-roots the
    * state and a later pair sweep rewrites from it.
    *
    * CRASH RECOVERY: the rewrite is ONE commit, so a crash either left
    * the old log (re-run the sweep) or the swept log — whose own commit
    * every cursor now trails by one, making an immediate re-run refuse.
    * Recovery is therefore RESUME THE LOOP, not retry the verb: run
    * [[componentsCycle]] (folding the star snapshot is an idempotent
    * no-op that advances the cursor to the head), then sweep — i.e. the
    * normal nightly probe → cycle → sweep order, unchanged. Returns the
    * number of log rows removed (pre-sweep live rows − star rows). */
  def sweepPairs(spark: org.apache.spark.sql.SparkSession,
      pairsPath: String, statePath: String,
      aCol: String = "doc_a", bCol: String = "doc_b"): Long = {
    val pp = java.nio.file.Paths.get(pairsPath)
    val m0 = graft.meta.CollectionMeta.currentManifest(pp)
    val cursors = graft.meta.CollectionMeta.cursorTags(pp)
    // the CONSUMER REGISTRY is the identity check: a cursor tag alone
    // proves SOMEBODY consumed the log, not that the state handed to
    // this verb is that somebody — stars derived from the wrong state
    // (swapped pipeline arguments, a bare snapshot pin standing in for
    // a consumer) would silently destroy the log while every
    // tag-version check passes
    val registry = graft.meta.CollectionMeta.readConsumers(pp)
    val canon = graft.meta.CollectionMeta.canonicalStateDir(statePath)
    if (!registry.values.exists(_ == canon)) throw new IllegalStateException(
      s"hadro: sweepPairs refused — $statePath is not a REGISTERED " +
        s"consumer state of $pairsPath (registered: " +
        s"${if (registry.isEmpty) "none" else registry.toSeq.sorted
          .map { case (t, p) => s"$t -> $p" }.mkString("; ")}). " +
        "componentsCycle registers its state alongside its cursor tag; " +
        "hand this verb one of those states — star edges derived from " +
        "anything else would replace the log with unrelated history")
    // every REGISTERED consumer must sit at the pinned head: a lagging
    // one's unconsumed windows would be replaced by stars derived from
    // a state that never folded them. Unregistered tags are snapshot
    // pins, not consumers — they keep their pinned snapshot through the
    // version-pinned replace (deferred GC honors tag pins) and never
    // block retention. A registered consumer whose tag is GONE is a
    // half-dropped decommission — refuse until dropTag finishes the job.
    val dangling = registry.keySet.filterNot(cursors.contains)
    if (dangling.nonEmpty) throw new IllegalStateException(
      s"hadro: sweepPairs refused — registered consumer cursor(s) " +
        s"${dangling.toSeq.sorted.mkString(", ")} on $pairsPath have no " +
        "tag (a half-finished decommission): re-run drop_tag for them " +
        "or re-run their componentsCycle, then sweep")
    val lagging = registry.keySet.map(t => t -> cursors(t))
      .filter(_._2 < m0.version)
    if (lagging.nonEmpty) throw new IllegalStateException(
      s"hadro: sweepPairs refused — consumer cursor(s) " +
        s"${lagging.map(_._1).toSeq.sorted.mkString(", ")} on $pairsPath " +
        s"sit below the head version ${m0.version}: their unconsumed " +
        "windows would be replaced by star edges derived from a state " +
        "that never folded them. Cycle every consumer to the head " +
        "(componentsCycle / CALL system.components_cycle), then sweep")
    // mirror the log's OWN schema exactly (a probe-fed log carries
    // score/metric, a raw pair log just the id columns), so producers
    // appending after the sweep never hit a schema-validation mismatch
    // the sweep itself introduced; `metric` (when present) is stamped
    // 'star' so synthetic closure rows stay distinguishable. Extra
    // columns carry NULL when the log declares them nullable;
    // non-nullable extras (probe logs record their computed score as
    // non-nullable) get the honest not-a-measurement sentinel — NaN for
    // floating point — since NULL would fail the write validation the
    // log's own schema demands.
    import org.apache.spark.sql.types.{BooleanType, DoubleType, FloatType,
      NumericType, StringType}
    val logSchema = graft.api.Collection(spark, pairsPath)
      .scanVersion(m0.version).schema
    require(logSchema.fieldNames.contains(aCol) &&
      logSchema.fieldNames.contains(bCol),
      s"hadro: sweepPairs expected pair columns $aCol/$bCol in the log " +
        s"at $pairsPath but found ${logSchema.fieldNames.mkString(", ")}")
    val starCols = logSchema.fields.toSeq.map { f =>
      f.name match {
        // cast back to the log's declared id types: the state holds
        // longs (componentsUpdate casts on fold), but an int-id log must
        // stay an int-id log or the sweep introduces the very
        // producer-append schema mismatch the mirroring prevents
        case n if n == aCol => col(aCol).cast(f.dataType).as(aCol)
        case n if n == bCol => col(bCol).cast(f.dataType).as(bCol)
        case "metric" if f.dataType == StringType => lit("star").as("metric")
        case other if f.nullable => lit(null).cast(f.dataType).as(other)
        case other =>
          val sentinel = f.dataType match {
            case DoubleType => lit(Double.NaN)
            case FloatType => lit(Float.NaN)
            case _: NumericType => lit(0).cast(f.dataType)
            case StringType => lit("star")
            case BooleanType => lit(false)
            case dt => throw new IllegalStateException(
              s"hadro: sweepPairs cannot synthesize a non-nullable " +
                s"'$other' ($dt) star value for the log at $pairsPath — " +
                "make the column nullable or sweep a log without it")
          }
          sentinel.as(other)
      }
    }
    val stars = components(spark, statePath)
      .filter(col("doc_id") =!= col("cluster"))
      .select(col("cluster").as(aCol), col("doc_id").as(bCol))
      .select(starCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val after = stars.count()
      // manifest-exact LIVE rows — the same arithmetic as loop_health's
      // pairs_rows gauge, so the two numbers an operator compares agree
      val before = m0.segments
        .map(s => s.rows - s.tombstones - s.dvDeletes).sum
      stars.write.format("hadro").mode("overwrite")
        .option("hadro.compactOf", m0.version.toString)
        .option("hadro.compactOfGen", m0.generation.toString)
        .save(pairsPath)
      before - after
    } finally stars.unpersist()
  }

  /** PHYSICAL takedown sweep of [[componentsUpdate]] membership state —
    * the [[DedupOps.sweepLshIndex]] analog for the components loop:
    * rewrite the state keeping only LIVE members (one column, e.g.
    * `collection.ids()`), re-rooting each surviving cluster to its
    * minimum LIVE member so dead doc ids leave the state ENTIRELY —
    * including as cluster labels, so a taken-down id later re-ingested
    * as new content can never alias a cluster it no longer belongs to.
    * Fully-dead clusters vanish. After the sweep, `keepList()` with no
    * `live` argument equals the pre-sweep `keepList(live)` on
    * (keep_id, n_members) — representatives are stable; only the
    * internal labels re-root (upward, which is safe ONLY because the
    * rewrite is one atomic version-pinned replace commit: no crash can
    * interleave re-rooted rows with the append-first/min-resolve
    * discipline of the incremental folds, whose "roots only decrease"
    * invariant resumes from the swept state). The sweep also heals
    * crash-duplicate rows (it rewrites the min-resolved view). Holds the
    * state's ingest lease, so concurrent folds serialize around it; the
    * version-pinned replace additionally preserves any unfenced append
    * (the sweepLshIndex contract). `keepPath` rewrites the materialized
    * keep-list in the same pass. Corpus-proportional by definition — run
    * it when takedown churn accumulates; `keepList(live)` covers the gap
    * between sweeps exactly. Returns the number of member rows swept. */
  def sweepComponents(spark: org.apache.spark.sql.SparkSession,
      statePath: String, live: DataFrame,
      keepPath: Option[String] = None): Long =
    DedupOps.withIngestLease(statePath, enabled = true) {
      val p = java.nio.file.Paths.get(statePath)
      val coll = graft.api.Collection(spark, statePath)
      val m0 = graft.meta.CollectionMeta.currentManifest(p)
      val liveIds = live.select(col(live.columns.head).as("doc_id"))
        .localCheckpoint()
      val resolved = coll.scanVersion(m0.version)
        .groupBy(col("doc_id")).agg(min(col("cluster")).as("cluster"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
      val rerooted = resolved
        .join(liveIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          min(col("doc_id")).over(w).as("new_c"))
        .select(col("doc_id"), col("new_c").as("cluster"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val before = m0.segments.map(s => s.rows - s.dvDeletes).sum
        val keptCount = rerooted.count()
        rerooted.write.format("hadro").mode("overwrite")
          .option("hadro.compactOf", m0.version.toString)
          .option("hadro.compactOfGen", m0.generation.toString)
          .option("hadro.key", "doc_id").save(statePath)
        keepPath.foreach { kp =>
          declared(keepRows(rerooted), KeepSchema)
            .write.format("hadro").mode("overwrite")
            .option("hadro.key", "cluster").save(kp)
        }
        before - keptCount
      } finally rerooted.unpersist()
    }

  /** One INCREMENTAL CURATION cycle — the downstream consumer that turns
    * the membership/keep-list loop into the thing a training pipeline
    * actually reads: a persisted DROP LIST (doc_id-keyed collection of
    * docs that are non-representative members of a duplicate cluster,
    * with their cluster and its keeper), maintained from the membership
    * state's CHANGEFEED with the [[componentsCycle]] cursor shape instead
    * of recomputing the d22-style dedup pass corpus-wide every night.
    * Survivors = corpus ANTI JOIN drop list; cap/budget selection
    * composes on top unchanged.
    *
    * Each cycle reads the state changes committed since `cursorTag`'s
    * last cycle (INSERT rows only — a re-rooted member's superseding row
    * is an insert in the same window as its DV-masked old row), resolves
    * each touched doc's final cluster (min — roots only decrease), joins
    * the MATERIALIZED keep-list (`keepPath`, point-lookup cheap) for the
    * cluster's keeper, and MERGEs one atomic changeset into `dropPath`:
    * docs that differ from their keeper upsert, docs that ARE the keeper
    * tombstone (a doc can lose keep status only when its cluster gains a
    * smaller member — and then every member re-appends, so the window's
    * insert rows cover exactly the docs whose status can change;
    * untouched docs' statuses are provably stable). Window-proportional
    * everywhere: the only corpus-sized reads are the first cycle (which
    * IS the bootstrap) and the compaction-crossed / post-sweep recovery
    * re-derive, both explicitly full-snapshot by contract.
    *
    * AT-LEAST-ONCE is EXACTLY-ONCE (the [[componentsCycle]] argument):
    * statuses are a pure function of (membership, keep-list), so a
    * replayed window re-derives identical upserts/tombstones — LWW-
    * idempotent. Run it AFTER [[componentsCycle]] in the same serialized
    * loop (the keep-list is maintained in lockstep with the state, and
    * commits BEFORE the state mutation, so it is never older than the
    * window being consumed). Docs removed from membership entirely (a
    * [[sweepComponents]] takedown) may leave stale drop rows — they are
    * dead in the corpus, so downstream anti-joins never see them; the
    * sweep's generation change makes the next cycle's window refuse and
    * re-derive fully, healing every LIVE doc's status (including a drop
    * promoted to keeper by its keeper's death). Returns the new cursor
    * version. */
  def curationCycle(spark: org.apache.spark.sql.SparkSession,
      statePath: String, cursorTag: String, keepPath: String,
      dropPath: String): Long = {
    val exists = graft.meta.CollectionMeta.collectionCommitted(
      java.nio.file.Paths.get(statePath))
    if (!exists) return 0L
    val state = graft.api.Collection(spark, statePath)
    val head = state.version
    def applyTouched(touched: DataFrame): Unit = {
      // checkpointed lazily (see Collection.boundedRows): both halves
      // read it, so an over-bound window runs the touched scan once
      val resolved = touched
        .groupBy(col("doc_id")).agg(min(col("cluster")).as("cluster"))
        .localCheckpoint(eager = false)
      // One of two halves resolves each touched doc's keeper into
      // `changes` (doc_id, cluster, keep_id — NULL when the cluster has
      // no keep row); the one tail below gates and commits it.
      //
      // BOUNDED DRIVER-SIDE WINDOW (the componentsUpdate fast-path
      // discipline): a steady window touches a few hundred docs, so ONE
      // bounded fetch + ONE point read of the cluster-keyed keep-list
      // replace the checkpoint/fetch/empty-probe action chain (~5 fixed
      // job costs per window), and `changes` is a local relation whose
      // emptiness checks start no job. The full-snapshot paths (first-
      // cycle bootstrap, post-compaction/post-sweep re-derive) are
      // corpus-proportional and take the distributed half.
      val changes = boundedRows(resolved, MaxKeyPushdown) match {
        case Some(rows) =>
          val m = rows.map(r => (r.getLong(0), r.getLong(1)))
          val clusters = m.map(_._2).distinct.toSeq
          val keepMap =
            if (clusters.isEmpty) Map.empty[Long, Long]
            else keepListMaterialized(spark, keepPath)
              .filter(col("cluster").isin(clusters: _*))
              .select(col("cluster"), col("keep_id")).collect()
              .map(r => r.getLong(0) -> r.getLong(1)).toMap
          import spark.implicits._
          m.toSeq.map { case (d, c) => (d, c, keepMap.get(c)) }
            .toDF("doc_id", "cluster", "keep_id")
        case None =>
          // keeper lookup restricted to the window's TOUCHED clusters: a
          // bounded set rides the cluster-KEYED keep collection's scan as
          // an IN predicate (the filter references only the LWW
          // resolve's partition key, so it pushes below the window and
          // segment stats/bloom prune the read); larger sets take a
          // PLAIN semi-join — NOT a forced broadcast: the full-snapshot
          // paths pass a corpus-proportional touched set that an
          // explicit broadcast() would collect onto the driver (AQE
          // still auto-broadcasts genuinely small over-bound sets from
          // runtime stats). Never an unrestricted keep-list scan per
          // window.
          val touchedClusters = resolved.select(col("cluster")).distinct()
          val keepAll = keepListMaterialized(spark, keepPath)
          val keep = boundedKeyLits(touchedClusters, MaxKeyPushdown)
            .fold(keepAll.join(touchedClusters, Seq("cluster"),
              "left_semi"))(vs =>
              if (vs.isEmpty) keepAll.limit(0)
              else keepAll.filter(col("cluster").isin(vs: _*)))
          // LEFT join, not an inner join: the gate below must see the
          // touched clusters that have no keep row
          resolved.join(keep.select(col("cluster"), col("keep_id")),
              Seq("cluster"), "left")
            .select(col("doc_id"), col("cluster"), col("keep_id"))
            .localCheckpoint()
      }
      // LOUD out-of-step gate: a touched cluster with no keep row means
      // the keep-list is OUT OF STEP with the state (the signature of a
      // sweep that crashed between its state and keep rewrites).
      // Dropping those docs silently would lose their status updates —
      // including the tombstone that PROMOTES a keeper whose predecessor
      // died — and still advance the cursor, corrupting the drop list
      // until an unrelated rewrite. Refuse instead, naming the repair
      // verb; the cursor does not move, so the healed loop replays this
      // window cleanly.
      if (!changes.filter(col("keep_id").isNull).isEmpty)
        throw new IllegalStateException(
          s"hadro: curationCycle found touched clusters with no row in " +
            s"the materialized keep-list at $keepPath — the keep-list is " +
            "out of step with the membership state (a crashed " +
            "sweepComponents between its two rewrites, or keep_dir not " +
            "maintained by the components loop). Re-run " +
            "sweepComponents(keepPath)/CALL system.sweep_components (or " +
            "componentsRebuild with keepPath) to heal, then re-run this " +
            "cycle — the cursor has not moved")
      val dropExists = graft.meta.CollectionMeta.collectionCommitted(
        java.nio.file.Paths.get(dropPath))
      if (!dropExists)
        declared(changes.filter(col("doc_id") =!= col("keep_id")),
          DropSchema)
          .write.format("hadro").mode("overwrite")
          .option("hadro.key", "doc_id").save(dropPath)
      else if (!changes.isEmpty) // quiet window: no zero-row commit
        graft.api.Collection(spark, dropPath)
          .merge(changes, col("doc_id") === col("keep_id"))
    }
    state.tags.get(cursorTag) match {
      case Some(f) if f >= head => () // caught up
      case None =>
        applyTouched(state.scanVersion(head)
          .select(col("doc_id"), col("cluster")))
      case Some(f) =>
        try applyTouched(spark.read.format("hadro")
          .option("hadro.changefeed", "full")
          .option("hadro.changesStart", f.toString)
          .option("hadro.changesEnd", head.toString).load(statePath)
          .filter(!col("_hadro_deleted"))
          .select(col("doc_id"), col("cluster")))
        catch {
          // state bin-pack or takedown sweep crossed the window: full
          // re-derive (idempotent status recompute) — the same recovery
          // contract as componentsCycle, matched on the dedicated type
          case _: graft.meta.ChangeWindowCompactedException =>
            applyTouched(state.scanVersion(head)
              .select(col("doc_id"), col("cluster")))
        }
    }
    // same observability contract as componentsCycle: the state's
    // consumers table shows which drop list this cursor folds into
    graft.meta.CollectionMeta.registerConsumer(
      java.nio.file.Paths.get(statePath), cursorTag,
      graft.meta.CollectionMeta.canonicalStateDir(dropPath))
    state.createTag(cursorTag, head)
    head
  }

  /** The resolved DROP LIST maintained by [[curationCycle]]:
    * (doc_id, cluster, keep_id) — one row per doc the dedup rule says to
    * drop. Keyed LWW, so promoted keepers are tombstoned out. */
  def dropList(spark: org.apache.spark.sql.SparkSession,
      dropPath: String): DataFrame =
    graft.api.Collection(spark, dropPath).toDF()
}
