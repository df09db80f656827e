package graft.api

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.meta.CollectionMeta

/** The INCREMENTAL-CONSUMER LOOP as a library verb (the h91/h93 pattern,
  * packaged): a downstream materialized aggregate over a fact collection,
  * maintained by MERGE-ing `changefeed=full` changes windows instead of
  * recomputing — at 100 TB the difference between reading the night's
  * segments and reading the table. The reference has no incremental
  * machinery at all; this is extension surface shaped after the
  * Delta/Iceberg MERGE-from-CDF cookbook pattern.
  *
  * Protocol (EXACTLY-ONCE):
  *   - the consumer's position is a TAG on the fact collection
  *     (`cursorTag`) — restart-safe (the tag survives the JVM), and the
  *     tag PINS the floor: its manifest survives retention and its
  *     segment/sidecar files are excluded from physical GC, so the
  *     window (and its synthesized-delete source bytes) stay readable
  *     across compaction, deferred GC and vacuum until the cursor moves.
  *   - each [[cycle]] reads (floor, head] with `changefeed=full`
  *     (synthesized dv-delete and drop-partition rows included; windows
  *     read THROUGH data-preserving compactions via the manifest chain
  *     walk), folds inserts (+1, +value) and deletes (-1, -value) into
  *     per-group deltas, MERGEs them into the rollup, and advances the
  *     tag.
  *   - the MERGE is NOT idempotent, so the applied window's end version
  *     is recorded IN THE SAME manifest commit as the MERGE's segments
  *     (the streaming sink's `streamEpochs` bookkeeping, armed via
  *     [[CollectionMeta.registerCommitEpoch]] — the Delta txn-id shape).
  *     The effective floor of every cycle is `max(cursor tag, recorded
  *     applied version)`: a crash BETWEEN the MERGE commit and the tag
  *     move leaves `applied > tag`, and the retry skips the already-
  *     applied span instead of double-applying it — each window's
  *     changes land in the rollup exactly once. One consumer per
  *     cursor tag (the same contract the tag itself implies); a failed
  *     cycle is simply re-run.
  *   - sums ride DECIMAL(18,2) end-to-end, so the incremental fold is
  *     bit-equal to a full recompute (IEEE double sums are
  *     partition-order dependent; decimals are associative).
  *   - NULL GROUP VALUES are rejected LOUDLY, never silently dropped:
  *     the rollup collection is keyed by the group column, and a keyed
  *     collection's key is its Spark row id — reported non-nullable, so
  *     a NULL-group rollup row is unstorable. Any NULL group reaching a
  *     rollup write (bootstrap's aggregate, a cycle's MERGE INSERT)
  *     fails with the writer's named error; COALESCE the group column
  *     to a sentinel in the fact schema if NULL is a real category.
  *     The window folds themselves handle NULL groups correctly (null-
  *     safe restriction and MERGE match), so a NULL group that nets out
  *     in-window is a clean no-op.
  *
  * Scale shape: one ordinal-floor-planned window scan (never the table),
  * one map-side-combinable aggregate over window-sized data, one MERGE
  * shuffling |groups touched| rows. The only driver materialization is
  * the keyed variant's bounded touched-key probe.
  */
object IncrementalRollup {

  /** streamEpochs key recording this consumer's applied window end
    * version in the ROLLUP collection's manifest. Keyed by cursor tag:
    * one consumer identity per tag, matching the tag's own contract. */
  private def epochKey(cursorTag: String): String = s"hadro-rollup:$cursorTag"

  /** The rollup collection's directory, resolved exactly as
    * [[graft.spark.HadroCatalog]] resolves `cat.ns....table` — catalog
    * warehouse conf + namespace path. */
  private def rollupDir(spark: SparkSession,
      rollupTable: String): java.nio.file.Path = {
    val parts = rollupTable.split("\\.")
    require(parts.length >= 2,
      s"hadro: rollup table must be a catalog identifier " +
        s"'cat[.ns...].table', got '$rollupTable'")
    val wh = spark.conf.get(s"spark.sql.catalog.${parts.head}.warehouse")
    java.nio.file.Paths.get(wh, parts.tail: _*)
  }

  private def deltaView(prefix: String, rollupTable: String): String =
    prefix + rollupTable.replaceAll("[^A-Za-z0-9_]", "_")

  /** Driver-visible EXACTLY-ONCE health counter, per rollup directory
    * (readable via [[protocolBreaks]] / `CALL system.rollup_health`):
    * a non-zero count means some cycle's MERGE provably committed
    * WITHOUT its applied-version record — exactly-once degraded to
    * double-apply-on-crash — and the rollup should not be trusted until
    * re-bootstrapped. Sturdier than the ERROR log alone: an operator
    * (or the composed-pipeline queries) asserts `breaks == 0` without
    * grepping driver logs. */
  private val ProtocolBreaks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.LongAdder]()

  /** Number of detected exactly-once protocol breaks for the rollup at
    * `rollupDir` since this JVM started (see [[ProtocolBreaks]]). */
  def protocolBreaks(rollupDir: java.nio.file.Path): Long =
    Option(ProtocolBreaks.get(
      rollupDir.toAbsolutePath.normalize.toString)).map(_.sum).getOrElse(0L)

  /** Exactly-once POST-check, run right after a cycle's MERGE while the
    * stamp registration is still in scope: the thread-local stamp is
    * consumed by a successful manifest commit ON THE REGISTERING THREAD
    * — so "stamp still armed, yet the rollup manifest advanced without
    * our (cursor -> head) entry" is the signature of the MERGE's commit
    * running on some other thread, silently dropping the
    * applied-version record (exactly-once degraded to
    * double-apply-on-crash; Spark's eager command execution commits on
    * the calling thread today — this guards against a future async
    * commit path). The same signature ALSO arises on a perfectly
    * healthy cycle, though: a no-op MERGE over an empty delta commits
    * nothing (the stamp stays armed), and a CONCURRENT commit on the
    * rollup — another cursor's cycle, maintenance — can advance the
    * version in that window. `expectCommit` is the disambiguator the
    * log line alone never had: evaluated ONLY when the signature fires
    * (one extra job in a path that should never execute), it asks
    * whether THIS cycle's MERGE had rows that must fire a write branch
    * — if yes, the missing entry is a GENUINE protocol break, counted
    * in [[ProtocolBreaks]] and ERROR-logged; if no, the no-op-MERGE
    * race explains it and only the log fires. Throwing would
    * permanently fail healthy multi-cursor deployments on the race,
    * which is worse than a counted, loud diagnostic. */
  private[graft] def assertEpochPublished(rp: java.nio.file.Path,
      cursorTag: String, preVersion: Long, head: Long,
      expectCommit: => Boolean): Unit =
    if (CollectionMeta.commitEpochArmed(rp)) {
      val m = CollectionMeta.currentManifest(rp)
      if (m.version != preVersion &&
          !m.streamEpochs.get(epochKey(cursorTag)).contains(head)) {
        val genuine = expectCommit
        if (genuine) ProtocolBreaks.computeIfAbsent(
          rp.toAbsolutePath.normalize.toString,
          _ => new java.util.concurrent.atomic.LongAdder).increment()
        org.slf4j.LoggerFactory.getLogger(getClass).error(
          s"hadro: rollup manifest advanced v$preVersion -> v${m.version} " +
            s"without recording applied version $head for cursor " +
            s"'$cursorTag' (streamEpochs: ${m.streamEpochs}). " +
            (if (genuine)
              "This cycle's MERGE had rows to commit, so the commit ran " +
                "off the registering thread and the exactly-once stamp " +
                "was dropped — a crash before the cursor tag moves would " +
                "re-apply this window. Counted in rollup_health; " +
                "re-bootstrap before trusting the rollup."
            else
              "This cycle's MERGE was a no-op racing a concurrent " +
                "legitimate commit — harmless, not counted."))
      }
    }

  private def deltas(spark: SparkSession, factPath: String,
      floor: Long, head: Long, groupCol: String,
      sums: Seq[(String, String)]) = {
    val aggs =
      sum(when(col("_hadro_deleted"), -1L).otherwise(1L))
        .cast("bigint").as("dn") +:
      sums.map { case (src, out) =>
        sum(when(col("_hadro_deleted"), -col(src).cast("decimal(18,2)"))
          .otherwise(col(src).cast("decimal(18,2)")))
          .cast("decimal(18,2)").as(s"d_$out")
      }
    spark.read.format("hadro")
      .option("hadro.changefeed", "full")
      .option("hadro.changesStart", floor.toString)
      .option("hadro.changesEnd", head.toString).load(factPath)
      .groupBy(col(groupCol).as("g"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Materialize the rollup FROM the tag-pinned snapshot (so cursor and
    * rollup start consistent even if the fact collection moves while the
    * bootstrap runs) as a keyed hadro collection at `rollupPath`:
    * (groupCol, n BIGINT, <out> DECIMAL(18,2)...), keyed by the group.
    * The snapshot is the RESOLVED view ([[Collection.resolvedAsOf]]):
    * for a keyed fact with upsert/tombstone history, a raw scan would
    * double-count shadowed versions and count deleted keys — the
    * baseline must be what a reader sees, not what the log holds.
    * (Re)pins the cursor tag at the current head — bootstrap DEFINES the
    * consumer's position, so a stale cursor from an earlier deployment
    * must not survive it (tags overwrite; the old pin returns to GC) —
    * and stamps the applied-version record to the same baseline in the
    * rollup's own commit, so a re-bootstrap also resets the
    * exactly-once bookkeeping. */
  def bootstrap(spark: SparkSession, factPath: String, cursorTag: String,
      rollupPath: String, groupCol: String,
      sums: Seq[(String, String)]): Unit = {
    val fact = Collection(spark, factPath)
    fact.createTag(cursorTag)
    // consumer registry (observability): the fact table's `consumers`
    // metadata table shows which rollup this cursor maintains. Bootstrap
    // DEFINES the consumer, so it owns the registration; cycles leave
    // the registry alone.
    CollectionMeta.registerConsumer(java.nio.file.Paths.get(factPath),
      cursorTag, CollectionMeta.canonicalStateDir(rollupPath))
    val v = fact.tags(cursorTag)
    val aggs =
      count(lit(1)).cast("bigint").as("n") +:
      sums.map { case (src, out) =>
        sum(col(src).cast("decimal(18,2)")).cast("decimal(18,2)").as(out) }
    val rp = java.nio.file.Paths.get(rollupPath)
    CollectionMeta.registerCommitEpoch(rp, epochKey(cursorTag), v)
    try {
      fact.resolvedAsOf(v)
        .groupBy(col(groupCol).as("g")).agg(aggs.head, aggs.tail: _*)
        .withColumnRenamed("g", groupCol)
        .write.format("hadro").mode("overwrite")
        .option("hadro.key", groupCol).save(rollupPath)
    } finally CollectionMeta.clearCommitEpoch(rp)
  }

  /** One consumer cycle against `rollupTable` (a catalog identifier the
    * session can MERGE INTO — the rollup collection registered through
    * HadroCatalog). Groups whose count reaches zero are DELETED from the
    * rollup; unseen groups INSERT. Returns the new cursor version (the
    * head this cycle consumed up to); a caught-up consumer (or a retry
    * of a crashed-after-MERGE cycle with no new commits) skips the MERGE
    * and still advances the tag. */
  def cycle(spark: SparkSession, factPath: String, cursorTag: String,
      rollupTable: String, groupCol: String,
      sums: Seq[(String, String)]): Long = {
    val fact = Collection(spark, factPath)
    val head = fact.version
    val tagFloor = fact.tags.getOrElse(cursorTag,
      throw new IllegalArgumentException(
        s"hadro: no cursor tag '$cursorTag' on $factPath — bootstrap first"))
    val rp = rollupDir(spark, rollupTable)
    val rm0 = CollectionMeta.currentManifest(rp)
    val applied = rm0.streamEpochs.getOrElse(epochKey(cursorTag), Long.MinValue)
    // the true cursor is max(tag, applied): a crash between the MERGE
    // commit (which records `applied` atomically) and the tag move
    // leaves applied > tag — the retry must not re-apply that span
    val floor = math.max(tagFloor, applied)
    if (floor < head) {
      val view = deltaView("hadro_rollup_delta_", rollupTable)
      deltas(spark, factPath, floor, head, groupCol, sums)
        .createOrReplaceTempView(view)
      val sets = ("n = t.n + d.dn" +: sums.map { case (_, out) =>
        s"$out = CAST(t.$out + d.d_$out AS DECIMAL(18,2))" }).mkString(", ")
      val insCols = (Seq(groupCol, "n") ++ sums.map(_._2)).mkString(", ")
      val insVals = (Seq("d.g", "d.dn") ++ sums.map(s => s"d.d_${s._2}"))
        .mkString(", ")
      CollectionMeta.registerCommitEpoch(rp, epochKey(cursorTag), head)
      try {
        spark.sql(
          s"""MERGE INTO $rollupTable t USING $view d
              ON t.$groupCol <=> d.g
              WHEN MATCHED AND t.n + d.dn = 0 THEN DELETE
              WHEN MATCHED THEN UPDATE SET $sets
              WHEN NOT MATCHED THEN INSERT ($insCols) VALUES ($insVals)""")
        // every delta row fires a MERGE branch, so a non-empty delta
        // view proves this cycle's MERGE must have committed
        assertEpochPublished(rp, cursorTag, rm0.version, head,
          !spark.table(view).isEmpty)
      } finally {
        CollectionMeta.clearCommitEpoch(rp)
        spark.catalog.dropTempView(view)
      }
    }
    fact.createTag(cursorTag, head)
    head
  }

  /** Bootstrap for [[cycleRefresh]]: materialize (groupCol, n BIGINT,
    * <out>...) where each out is `fn(src)` — fn in {min, max, sum} (sum
    * rides DECIMAL(18,2); min/max keep the source type) — from the
    * RESOLVED tag-pinned snapshot, keyed by the group. Same cursor and
    * applied-version stamping contract as [[bootstrap]]. */
  def bootstrapRefresh(spark: SparkSession, factPath: String,
      cursorTag: String, rollupPath: String, groupCol: String,
      aggs: Seq[(String, String, String)]): Unit = {
    val fact = Collection(spark, factPath)
    fact.createTag(cursorTag)
    // see bootstrap: the consumer registry entry rides the definition
    CollectionMeta.registerConsumer(java.nio.file.Paths.get(factPath),
      cursorTag, CollectionMeta.canonicalStateDir(rollupPath))
    val v = fact.tags(cursorTag)
    val rp = java.nio.file.Paths.get(rollupPath)
    CollectionMeta.registerCommitEpoch(rp, epochKey(cursorTag), v)
    try {
      aggExprs(fact.resolvedAsOf(v).groupBy(col(groupCol).as("g")), aggs)
        .withColumnRenamed("g", groupCol)
        .write.format("hadro").mode("overwrite")
        .option("hadro.key", groupCol).save(rollupPath)
    } finally CollectionMeta.clearCommitEpoch(rp)
  }

  private def aggFn(fn: String, src: String): org.apache.spark.sql.Column =
    fn match {
      case "min" => min(col(src))
      case "max" => max(col(src))
      case "sum" => sum(col(src).cast("decimal(18,2)")).cast("decimal(18,2)")
      case other => throw new IllegalArgumentException(
        s"hadro: cycleRefresh aggregate must be min|max|sum, got '$other'")
    }

  private def aggExprs(g: org.apache.spark.sql.RelationalGroupedDataset,
      aggs: Seq[(String, String, String)]) = {
    val exprs = count(lit(1)).cast("bigint").as("n") +:
      aggs.map { case (fn, src, out) => aggFn(fn, src).as(out) }
    g.agg(exprs.head, exprs.tail: _*)
  }

  /** Consumer cycle for aggregates that are NOT delta-foldable under
    * deletes — MIN/MAX (a deleted row may have BEEN the extreme; no
    * signed fold can recover the runner-up). The standard materialized-
    * view maintenance for these is PARTIAL RECOMPUTE: read the window
    * only to find the TOUCHED GROUPS, re-aggregate exactly those groups
    * from the resolved head snapshot, and MERGE the refreshed rows —
    * untouched groups are never read or written. Group restriction uses
    * the same bounded-probe discipline as the keyed pre-images: ≤
    * [[Collection.MaxKeyPushdown]] distinct groups push into the
    * snapshot scan as an IN predicate (per-segment min/max stats prune
    * group-clustered layouts to only the touched groups' segments);
    * larger sets semi-join. For a KEYED fact the group filter cannot
    * sit below the per-key LWW window (a group-moving update could
    * resurrect shadowed versions), but a KEY filter can — and a key's
    * LATEST version lies in a touched group only if SOME version does,
    * so the refresh restricts the resolve to the sound superset "keys
    * with any version in a touched group" ([[refreshedFrame]]); the
    * keyed touched-group set itself comes from the typed change rows
    * (pre- AND post-images), so a group-moving upsert and a key-only
    * tombstone touch their OLD group too. Groups
    * whose refreshed row set is empty are DELETED from the rollup.
    * Exactly-once exactly as [[cycle]]: the applied version rides the
    * MERGE commit; the effective floor is max(tag, applied). */
  def cycleRefresh(spark: SparkSession, factPath: String, cursorTag: String,
      rollupTable: String, groupCol: String,
      aggs: Seq[(String, String, String)]): Long = {
    val fact = Collection(spark, factPath)
    val head = fact.version
    val tagFloor = fact.tags.getOrElse(cursorTag,
      throw new IllegalArgumentException(
        s"hadro: no cursor tag '$cursorTag' on $factPath — bootstrap first"))
    val rp = rollupDir(spark, rollupTable)
    val rm0 = CollectionMeta.currentManifest(rp)
    val applied = rm0.streamEpochs.getOrElse(epochKey(cursorTag), Long.MinValue)
    val floor = math.max(tagFloor, applied)
    if (floor < head) {
      val refreshed = refreshedFrame(spark, factPath, floor, head,
        groupCol, aggs)
      val view = deltaView("hadro_rollup_refresh_", rollupTable)
      refreshed.createOrReplaceTempView(view)
      val sets = ("n = d.n" +: aggs.map { case (_, _, out) =>
        s"$out = d.$out" }).mkString(", ")
      val insCols = (Seq(groupCol, "n") ++ aggs.map(_._3)).mkString(", ")
      val insVals = (Seq("d.g", "d.n") ++ aggs.map(a => s"d.${a._3}"))
        .mkString(", ")
      CollectionMeta.registerCommitEpoch(rp, epochKey(cursorTag), head)
      try {
        spark.sql(
          s"""MERGE INTO $rollupTable t USING $view d
              ON t.$groupCol <=> d.g
              WHEN MATCHED AND d.n IS NULL THEN DELETE
              WHEN MATCHED THEN UPDATE SET $sets
              WHEN NOT MATCHED AND d.n IS NOT NULL THEN
                INSERT ($insCols) VALUES ($insVals)""")
        // refreshed rows with non-null n always fire a write branch; a
        // pure-delete window (all touched groups vanished) under-detects
        // here and falls back to the log-only diagnostic
        assertEpochPublished(rp, cursorTag, rm0.version, head,
          !spark.table(view).filter(col("n").isNotNull).isEmpty)
      } finally {
        CollectionMeta.clearCommitEpoch(rp)
        spark.catalog.dropTempView(view)
      }
    }
    fact.createTag(cursorTag, head)
    head
  }

  /** The MERGE source for [[cycleRefresh]]: one row per TOUCHED group —
    * (g, n, outs...), with null n when the group has no surviving rows
    * (the MERGE's DELETE branch). Package-private so the scale contract
    * is plan-assertable (IncrementalRollupSpec walks the executed plan).
    *
    * Touched groups: an unkeyed fact reads the raw `changefeed=full`
    * window; a KEYED fact reads the typed change rows instead
    * ([[ChangeFeed.updateImages]], window-proportional) because the raw
    * window misses the OLD group of a group-moving upsert and a
    * key-only tombstone's group — both must be refreshed.
    *
    * Restriction: literal groups (≤ MaxKeyPushdown) push into the scan
    * as an IN predicate; larger sets semi-join null-safely. A NULL
    * member of the touched set restricts explicitly — isin() and plain
    * equi-joins drop NULLs silently, which would turn a touched NULL
    * group into a silent no-op; with the null-safe handling here it
    * either nets out cleanly (no surviving NULL rows, no rollup row) or
    * fails LOUDLY at the MERGE insert (the rollup keys on the group;
    * NULL keys are rejected at write — see the object scaladoc).
    *
    * KEYED scale shape: the group filter restricts the RAW head scan
    * (all versions — scan pushdown prunes group-clustered segments),
    * whose keys form the sound superset "keys with any version in a
    * touched group"; [[Collection.resolvedAsOf(version:Long,touched:DataFrame)*]]
    * then restricts BELOW the LWW window by those keys, so the window
    * shuffle carries only touched keys' rows — never the table. Keys
    * whose latest row moved to an UNTOUCHED group aggregate into that
    * group's partial, which the touched-only join below never consumes. */
  private[graft] def refreshedFrame(spark: SparkSession, factPath: String,
      floor: Long, head: Long, groupCol: String,
      aggs: Seq[(String, String, String)]): org.apache.spark.sql.DataFrame = {
    val fact = Collection(spark, factPath)
    // checkpointed (lazily, see Collection.boundedRows): the touched-
    // group frame feeds the bounded probe, the snapshot restriction AND
    // the refresh join — one window scan, not three
    val touched = (fact.keyField match {
      case Some(_) =>
        ChangeFeed.updateImages(spark, factPath, floor, head)
          .select(col(groupCol).as("g"))
      case None => spark.read.format("hadro")
        .option("hadro.changefeed", "full")
        .option("hadro.changesStart", floor.toString)
        .option("hadro.changesEnd", head.toString).load(factPath)
        .select(col(groupCol).as("g"))
    }).distinct().localCheckpoint(eager = false)
    val lits = Collection.boundedKeyLits(touched, Collection.MaxKeyPushdown)
    def restrictGroups(df: org.apache.spark.sql.DataFrame) = lits match {
      case Some(vs) =>
        val nonNull = vs.filter(_ != null)
        val in =
          if (nonNull.isEmpty) lit(false)
          else col(groupCol).isin(nonNull: _*)
        df.filter(
          if (vs.exists(_ == null)) col(groupCol).isNull || in else in)
      case None =>
        df.join(touched, df(groupCol) <=> touched("g"), "left_semi")
    }
    val restricted = fact.keyField match {
      case Some(k) =>
        val touchedKeys = restrictGroups(fact.scanVersion(head))
          .select(col(k))
        fact.resolvedAsOf(head, touchedKeys)
      case None => restrictGroups(fact.resolvedAsOf(head))
    }
    // left join (null-safe on the group): a touched group with NO
    // surviving rows arrives with null n — the MERGE's DELETE branch
    val refreshedAgg =
      aggExprs(restricted.groupBy(col(groupCol).as("g")), aggs)
        .withColumnRenamed("g", "g_r")
    touched.join(refreshedAgg, col("g") <=> col("g_r"), "left").drop("g_r")
  }

  /** [[cycle]] for a KEYED fact collection, where the raw changefeed is
    * NOT a valid delta — an upsert's new version would double-count (the
    * shadowed row's contribution is already in the rollup) — so the
    * window is first classified into Delta-CDF-style typed rows by
    * [[ChangeFeed.updateImages]]: `insert`/`update_postimage` fold +1/+v,
    * `delete`/`update_preimage` fold -1/-v (an update nets 0 rows,
    * -old+new value), keys created and destroyed in-window net out
    * entirely. Same MERGE, cursor and exactly-once contract as [[cycle]].
    * Scale adds the pre-image side: the start snapshot restricted to the
    * window's touched keys BELOW its LWW resolve (IN pushdown with
    * key-bloom segment pruning for bounded key sets, semi join above it)
    * — still never a table-sized shuffle. */
  def cycleKeyed(spark: SparkSession, factPath: String, cursorTag: String,
      rollupTable: String, groupCol: String,
      sums: Seq[(String, String)]): Long = {
    val fact = Collection(spark, factPath)
    val head = fact.version
    val tagFloor = fact.tags.getOrElse(cursorTag,
      throw new IllegalArgumentException(
        s"hadro: no cursor tag '$cursorTag' on $factPath — bootstrap first"))
    val rp = rollupDir(spark, rollupTable)
    val rm0 = CollectionMeta.currentManifest(rp)
    val applied = rm0.streamEpochs.getOrElse(epochKey(cursorTag), Long.MinValue)
    val floor = math.max(tagFloor, applied)
    if (floor < head) {
      val sign = when(
        col("_change_type").isin("insert", "update_postimage"), 1L)
        .otherwise(-1L)
      // the uniform sign makes GROUP-CHANGING updates correct for counts
      // too: pre/post cancel inside an unchanged group, and an update
      // that moved a key across groups decrements the old group and
      // increments the new one
      val aggs =
        sum(sign).cast("bigint").as("dn") +:
        sums.map { case (src, out) =>
          sum((sign * col(src).cast("decimal(18,2)")).cast("decimal(18,2)"))
            .cast("decimal(18,2)").as(s"d_$out")
        }
      val view = deltaView("hadro_rollup_kdelta_", rollupTable)
      ChangeFeed.updateImages(spark, factPath, floor, head)
        .groupBy(col(groupCol).as("g"))
        .agg(aggs.head, aggs.tail: _*)
        .createOrReplaceTempView(view)
      val sets = ("n = t.n + d.dn" +: sums.map { case (_, out) =>
        s"$out = CAST(t.$out + d.d_$out AS DECIMAL(18,2))" }).mkString(", ")
      val insCols = (Seq(groupCol, "n") ++ sums.map(_._2)).mkString(", ")
      val insVals = (Seq("d.g", "d.dn") ++ sums.map(s => s"d.d_${s._2}"))
        .mkString(", ")
      CollectionMeta.registerCommitEpoch(rp, epochKey(cursorTag), head)
      try {
        spark.sql(
          s"""MERGE INTO $rollupTable t USING $view d
              ON t.$groupCol <=> d.g
              WHEN MATCHED AND t.n + d.dn = 0 THEN DELETE
              WHEN MATCHED THEN UPDATE SET $sets
              WHEN NOT MATCHED THEN INSERT ($insCols) VALUES ($insVals)""")
        // every delta row fires a MERGE branch, so a non-empty delta
        // view proves this cycle's MERGE must have committed
        assertEpochPublished(rp, cursorTag, rm0.version, head,
          !spark.table(view).isEmpty)
      } finally {
        CollectionMeta.clearCommitEpoch(rp)
        spark.catalog.dropTempView(view)
      }
    }
    fact.createTag(cursorTag, head)
    head
  }
}
