package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.Collection.{boundedKeyLits, boundedRows}

/** Deduplication operators for training-data pipelines, engineered for the
  * 100 TB shape: candidate generation is always a key-equality shuffle join
  * (banding / inverted index / bucketing) — never an all-pairs product — and
  * verification runs only on candidate pairs.
  */
object DedupOps {

  /** Exact dedup: group identical content (by full-width sha2 content hash,
    * so the shuffle key is 32 bytes regardless of document size), keep the
    * smallest id. Returns (keep_id, n_copies). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .drop("content_hash")

  /** Canonical form of a URL for crawl-level dedup (the RefinedWeb /
    * CCNet first pass): case-fold, strip scheme and leading `www.`, drop
    * the fragment, remove `utm_*` tracking parameters (and any dangling
    * `?`/`&` they leave), strip a trailing slash. Pure codegen'd string
    * expressions — map-only, no UDF. */
  def canonicalUrl(u: Column): Column = {
    val lowered = lower(u)
    val noScheme = regexp_replace(lowered, "^https?://", "")
    val noWww = regexp_replace(noScheme, "^www\\.", "")
    val noFrag = regexp_replace(noWww, "#.*$", "")
    val noUtm = regexp_replace(noFrag, "utm_[a-z]+=[^&]*&?", "")
    val noDangling = regexp_replace(noUtm, "[?&]+$", "")
    regexp_replace(noDangling, "/$", "")
  }

  /** URL dedup: canonicalize, then group on the canonical form keeping
    * the smallest id. The only shuffle is the final group on the
    * canonical-URL key (bounded-length strings) — identical in shape to
    * [[exactDedup]], so it holds at crawl scale. Returns
    * (canonical_url, keep_id, n_dups). */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.groupBy(canonicalUrl(col(urlCol)).as("canonical_url"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash + LSH near-duplicate pairs.
    *
    * shingle(k) → MinHash(numHashes) → band into `bands` groups of
    * numHashes/bands rows → exact-match join per band → distinct candidate
    * pairs → exact Jaccard verify ≥ threshold.
    *
    * The band join is the scale path: at 100 TB each band bucket holds only
    * colliding docs, so the shuffle is proportional to near-dup density,
    * not to corpus size squared.
    */
  /** `mustCheck`: optional (doc_a, doc_b) pairs ALWAYS sent to exact
    * verification regardless of LSH collision. LSH recall is probabilistic
    * — with 16 bands × 4 hashes a pair at exactly J = 0.8 is missed with
    * probability (1 - 0.8⁴)¹⁶ ≈ 2·10⁻⁴ — so callers holding known-pair
    * keys (planted test pairs, must-link constraints from an upstream
    * stage) can pin them here and get guaranteed recall for that subset
    * while the LSH path covers the open corpus. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBandBucket: Int = 200,
      mustCheck: Option[DataFrame] = None): DataFrame = {
    val rowsPerBand = numHashes / bands
    // Persist the signatures: the banded frame feeds BOTH sides of the
    // self-join, and without materialization Spark recomputes the (pricey)
    // MinHash expression once per branch. ContextCleaner reaps the cache
    // when the frame is garbage-collected. parallelized: the MinHash
    // expression is the dominant CPU — never let an unsplittable source
    // pin it to one task.
    val withSig = TextOps.parallelized(df).select(
      col(idCol).as("doc_id"),
      TextOps.shingleSet(col(textCol), shingleK).as("shingles"))
      .withColumn("sig", TextOps.minhashSignature(col("shingles"), numHashes))
    // Verification operates on 8-byte shingle HASHES, not the strings:
    // exact Jaccard is preserved (distinct cardinalities survive hashing,
    // collision odds 2^-64 per pair) while the verify join shuffles ~8
    // bytes per shingle instead of the full n-gram text — the dominant
    // byte volume at corpus scale.
    val sets = withSig.select(col("doc_id"),
      transform(col("shingles"), s => xxhash64(s)).as("shingles"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // sig_h rides along in the banded frame so the star-pair stage reuses
    // THIS persist instead of re-running the MinHash expression — the
    // dominant CPU of the whole pipeline — a second time.
    val banded = withSig.select(
      col("doc_id"), xxhash64(col("sig")).as("sig_h"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Band-bucket cap, mirroring the inverted index's doc-frequency cap: a
    // bucket shared by > maxBandBucket docs (boilerplate/empty documents
    // hashing identically) joins quadratically while identifying nothing —
    // drop it from CANDIDATE GENERATION only; near-dups that differ collide
    // in other bands too. Singleton buckets can never pair, so they're
    // pruned before the self-join rather than filtered after it. ONE
    // window over the banded frame (count per bucket partition) replaces
    // the groupBy + join-back — same counts, one shuffle instead of two,
    // and the self-join on the bucket key reuses the window's hash
    // partitioning on both sides (guide §2.4).
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_hash"))
    val pruned = banded
      .withColumn("__bc", count(lit(1)).over(wBucket))
      .filter(col("__bc") >= 2 && col("__bc") <= maxBandBucket)
      .select(col("band"), col("band_hash"), col("doc_id"))
    val a = pruned.select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = pruned.select(col("band"), col("band_hash"), col("doc_id").as("doc_b"))
    // Dedup candidate PAIRS first (two longs), verify exactly ONCE per pair
    // — a pair colliding in many bands must not pay the set-intersection
    // repeatedly, and distinct on ids shuffles far less than on arrays.
    val bandCandidates = a.join(b, Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    // The cap's blind spot: an (near-)identical cluster LARGER than
    // maxBandBucket collides in EVERY band, so all its buckets get capped
    // and the cluster — the main target of dedup — would yield zero pairs.
    // Cover it with identical-FULL-signature star pairs (representative =
    // min doc_id ↔ each member): linear in cluster size where the clique
    // is quadratic, cheap (one window over an 8-byte signature hash), and
    // for sub-cap clusters the stars are a subset of the band clique, so
    // the distinct() below absorbs them. rep = min(doc_id) of the
    // signature partition, so emitted pairs are already canonical.
    val sigKeyed = banded.filter(col("band") === 0)
      .select(col("doc_id"), col("sig_h")) // one row per doc, off the persisted banded frame
    val wSig = org.apache.spark.sql.expressions.Window.partitionBy(col("sig_h"))
    val sigStars = sigKeyed
      .withColumn("__rep", min(col("doc_id")).over(wSig))
      .withColumn("__n", count(lit(1)).over(wSig))
      .filter(col("__n") >= 2 && col("doc_id") =!= col("__rep"))
      .select(col("__rep").as("doc_a"), col("doc_id").as("doc_b"))
    val pinned = mustCheck.map(_.select(
      least(col("doc_a"), col("doc_b")).as("doc_a"),
      greatest(col("doc_a"), col("doc_b")).as("doc_b")))
    val candidates = pinned.foldLeft(bandCandidates.unionByName(sigStars))(
      _ unionByName _).distinct()
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        TextOps.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** PERSISTED LSH index build for [[minhashLshIndexProbe]] — the
    * incremental-ingest twin of [[minhashLshPairs]]. Materializes the
    * corpus' banded MinHash index ONCE as two HADRO COLLECTIONS under
    * `indexPath`: `bands` (band, band_hash, doc_id) — the inverted
    * banding a probe joins against — and `sets` (doc_id, sig_h,
    * payload = shingles as 8-byte xxhash64 values) — the verification
    * side ([[embeddingIndexBuild]] stores the same layout with the raw
    * vector as the payload). At
    * 100 TB this is the difference between re-signaturing the corpus
    * every night and signaturing only the night's batch: the index is
    * corpus-sized on DISK but a probe reads it hit-proportionally
    * (key-equality joins on (band, band_hash) and on candidate doc
    * ids), and every shuffled key is 8 bytes.
    *
    * Hadro collections, not bare parquet directories, because the index
    * needs the table machinery's guarantees: extensions and maintenance
    * are ATOMIC manifest commits (a crash mid-rewrite can never leave
    * both copies of a row visible), probes pin a manifest version whose
    * files deferred GC protects from a concurrent compaction or sweep,
    * and [[sweepLshIndex]] rides the version-pinned replace protocol
    * that preserves appends landing mid-sweep (the `sweepSqIndex` /
    * compact() shape). Entries are MUTATION-AWARE BY doc_id:
    * re-ingesting an id with changed text through the probe replaces
    * its stored signature (stale rows are deletion-vector-masked, new
    * rows appended — see [[minhashLshIndexProbe]]), the re-crawl shape
    * a live pipeline hits constantly; unchanged retries stay no-ops. */
  /** ONE ROW PER ID, deterministically: a crawl batch (or build input)
    * carrying the same id twice keeps the row whose content hashes
    * smallest — exact duplicate rows collapse to one, conflicting
    * contents resolve stably. Without this, duplicate ids write
    * duplicate index rows, and a later re-ingest of that id would
    * classify it as BOTH changed and unchanged — DV-masking every copy
    * while the append excludes it: the doc silently vanishes from
    * verification. One partial-aggregating shuffle on the input: batch-
    * sized per probe; corpus-sized at BUILD time, where it is the build
    * verb's only shuffle — the price of the one-row-per-id invariant
    * every later mutation split and verification join relies on. */
  private def onePerId(df: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    df.groupBy(col(idCol))
      .agg(min_by(col(contentCol), xxhash64(col(contentCol))).as(contentCol))

  def minhashLshIndexBuild(df: DataFrame, idCol: String, textCol: String,
      indexPath: String, shingleK: Int = 3, numHashes: Int = 64,
      bands: Int = 16): Unit = {
    val rowsPerBand = numHashes / bands
    val spark = df.sparkSession
    import spark.implicits._
    // banding parameters ride a params sidecar (the embedding-index
    // discipline): a probe — Scala or the SQL procedure — reads them
    // from the index itself and can never signature a batch
    // incompatibly with the banding the index was built under
    Seq((shingleK, numHashes, bands)).toDF("shingle_k", "num_hashes", "bands")
      .write.format("hadro").mode("overwrite").save(s"$indexPath/params")
    val withSig = onePerId(df, idCol, textCol)
      .select(col(idCol).as("doc_id"),
        TextOps.shingleSet(col(textCol), shingleK).as("shingles"))
      .withColumn("sig", TextOps.minhashSignature(col("shingles"), numHashes))
    // sets is KEYED by doc_id (one live row per doc: [[onePerId]] on
    // every input, unchanged re-ingests skipped, changed ones DV-mask
    // the old row before appending the new — raw scans never see two
    // versions and the `mutated` flag never flips): keying builds the
    // per-segment key-bloom / key-offset sidecars that let an
    // extend-mode probe's verification fetch push candidate ids into
    // the scan and read only the touched segments instead of the whole
    // corpus
    withSig.select(col("doc_id"), xxhash64(col("sig")).as("sig_h"),
      transform(col("shingles"), s => xxhash64(s)).as("payload"))
      .write.format("hadro").mode("overwrite")
      .option("hadro.key", "doc_id").save(s"$indexPath/sets")
    withSig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1,
          lit(rowsPerBand)), b))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("band_hash"))
      .write.format("hadro").mode("overwrite").save(s"$indexPath/bands")
  }

  /** INCREMENTAL MinHash-LSH near-dup: probe a NEW document batch
    * against the [[minhashLshIndexBuild]] index, returning every pair
    * with verified Jaccard ≥ `threshold` where AT LEAST ONE side is new
    * (new-vs-corpus and new-vs-new; corpus-vs-corpus was reported when
    * those docs were themselves the new batch), then — `extendIndex` —
    * append the batch's bands and sets so the next ingest probes
    * against the grown corpus. The nightly-dedup shape: only the batch
    * is signatured; the corpus contributes via key-equality joins.
    *
    * Semantics match the batch path exactly: the band-bucket cap counts
    * members across index ∪ batch (a boilerplate bucket must not start
    * joining quadratically just because the count crossed the cap at
    * this ingest), identical-signature clusters that GAINED a new
    * member emit star pairs (the over-cap blind-spot cover), and
    * verification is exact Jaccard over the 8-byte shingle hashes.
    * `mustCheck` pins known pairs past the probabilistic candidate
    * stage, as in [[minhashLshPairs]].
    *
    * EVERY index-side stage is HIT-PROPORTIONAL, never corpus-
    * proportional: the bucket-usability counts and the gained-signature
    * stars first semi-join the index against the BATCH's broadcast
    * bucket / signature sets (≤ bands·|batch| 16-byte keys and ≤ |batch|
    * 8-byte keys respectively — counts and stars for buckets/signatures
    * the batch never probes are never consumed downstream, so the
    * results are identical), and the shingle fetch joins candidates by
    * id — in extend mode a BOUNDED candidate id set (≤ `maxIdPushdown`)
    * additionally pushes into the keyed sets scan as an IN predicate,
    * where the key-bloom / key-offset sidecars prune to only the
    * touched segments: the verification READ becomes hit-proportional
    * point batches instead of two corpus-sized scans (dry-run probes
    * stay fully lazy on the map-only broadcast-join scan).
    * A nightly ingest therefore shuffles O(batch + hits) rows no
    * matter how large the accumulated index is (OpsSpec pins this with
    * a shuffle-records bound on a large-index/small-batch fixture).
    *
    * DELETE-AWARENESS: the index is decoupled from the base collection,
    * so corpus deletes never rewrite it — pass `live` (a one-column
    * frame of currently-live doc ids, e.g. `collection.ids()`) and the
    * probe drops candidates whose OLD side is no longer live before
    * verification: the candidates' bounded old-side id set broadcasts
    * into a map-only scan of `live` (the ANN `liveTopK` shape — never a
    * corpus-sized shuffle). Run [[sweepLshIndex]] when delete churn
    * accumulates; `live` covers the gap between sweeps exactly.
    *
    * With `extendIndex` the returned pairs are materialized (eager
    * localCheckpoint) BEFORE the index mutates, and the extension is
    * MUTATION-AWARE and IDEMPOTENT: per table, batch ids divide into
    * ABSENT (plain insert), UNCHANGED (stored signature matches — the
    * crash-retry case, a no-op, so a retried ingest cannot multiply
    * index rows) and CHANGED (a re-crawled id whose content moved: the
    * stale rows are deletion-vector-masked, then the new rows appended,
    * so the doc probes and pairs under its CURRENT text and its stale
    * pairs stop emitting). The probe itself anti-joins the pinned index
    * frames by the batch's broadcast id set, so a batch doc — retried
    * or re-crawled — is ALWAYS scored under tonight's signature alone
    * (a retried probe reproduces the original run exactly). The index
    * collections bin-pack their small segments once the count exceeds
    * `maxIndexFiles` — an atomic replace commit whose old files
    * deferred GC keeps readable for concurrently pinned probes.
    *
    * CONCURRENCY CONTRACT: mutating ingests (extendIndex) SERIALIZE —
    * the probe holds a per-index ingest lease (JVM monitor + cross-
    * process file lock on `indexPath/ingest.lock`) across pin → probe →
    * extend, because two batches racing unfenced each pin a version
    * that excludes the other's uncommitted extend and MISS their A×B
    * cross pairs (spec'd in OpsSpec); serialized, the d32 loop≡batch
    * composition applies to any interleaving, so concurrent callers
    * jointly enumerate exactly the one-shot batch pairs. A crashed
    * mutating ingest must be RETRIED (idempotent) before later windows
    * probe, so a half-landed mutation never ages. `serializeIngest =
    * false` opts out for callers with an external single-writer
    * guarantee. Dry-run probes never take the lease: pinned manifest
    * versions plus deferred GC keep them consistent under any
    * concurrent extend/sweep.
    *
    * `pairsSink = Some((pairsPath, windowId))` (extend mode): persist
    * the window's verified pairs to an append-only hadro collection
    * inside the same leased ingest, exactly once across crash retries
    * (the caller's monotonically increasing `windowId` rides the pairs
    * commit as a streamEpochs stamp; a retry — same id — skips the
    * re-append, and a STRICTLY LOWER id fails loudly as a protocol
    * error: silent drops would diverge membership from the index) — the
    * seam that lets [[graft.ops.ClusterOps.componentsCycle]] drive the
    * membership fold from a cursor-tagged changes window over the pairs
    * collection instead of a return value a crash would lose. The log
    * schema is modality-uniform — (doc_a, doc_b, score DOUBLE, metric
    * STRING) — so a text probe and an [[embeddingIndexProbe]] can feed
    * ONE pairs collection (the cross-modal composed loop); the epoch
    * stamps are keyed per INDEX, so each modality's exactly-once
    * bookkeeping is independent.
    *
    * `eagerVerify` (dry-run only): trade the probe's laziness for the
    * extend-mode bounded verification fetch — candidates checkpoint
    * eagerly and the payload read becomes IN-pushdown point batches on
    * the keyed sets collection instead of two lazy corpus-sized
    * map-only scans. For operators running repeated dry-run audits
    * against a large index; results are identical (spec-asserted). */
  def minhashLshIndexProbe(spark: SparkSession, newDocs: DataFrame,
      idCol: String, textCol: String, indexPath: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBandBucket: Int = 200,
      extendIndex: Boolean = true,
      mustCheck: Option[DataFrame] = None,
      live: Option[DataFrame] = None,
      maxIndexFiles: Int = 64,
      maxIdPushdown: Int = graft.api.Collection.MaxKeyPushdown,
      eagerVerify: Boolean = false,
      serializeIngest: Boolean = true,
      maxStateSplit: Int = DefaultMaxStateSplit,
      pairsSink: Option[(String, Long)] = None): DataFrame = {
    // banding comes from the index's own params sidecar when present —
    // a probe can never band incompatibly with what it probes; the
    // explicit arguments serve only param-less pre-upgrade indexes.
    // The sidecar's column names carry the MODALITY, so pointing this
    // probe at a sign-LSH embedding index fails with directions instead
    // of garbage Jaccard over float payloads.
    val (sk, nh, nb) = indexParams(spark, indexPath) match {
      case None => (shingleK, numHashes, bands)
      case Some(p) =>
        val need = Seq("shingle_k", "num_hashes", "bands")
        require(need.forall(p.schema.fieldNames.contains),
          s"hadro: $indexPath is not a MinHash text index (params: " +
            s"${p.schema.fieldNames.mkString(", ")}) — a sign-LSH embedding " +
            "index probes via embeddingIndexProbe / CALL embedding_probe")
        // by NAME, never position: a merged/rebuilt sidecar may reorder
        // columns, and a positional read would silently swap num_hashes
        // and bands — the incompatible-banding failure the sidecar exists
        // to prevent
        (p.getInt(p.fieldIndex("shingle_k")),
          p.getInt(p.fieldIndex("num_hashes")),
          p.getInt(p.fieldIndex("bands")))
    }
    val rowsPerBand = nh / nb
    // ONE MinHash pass over the DEDUPLICATED batch ([[onePerId]]): the
    // signatured frame is checkpointed eagerly (batch-sized blocks,
    // ContextCleaner-reclaimed on GC — unlike Dataset.persist, which
    // pins the CacheManager entry until an explicit unpersist and leaked
    // across nightly ingests); banding, stars, verification and the
    // extension all read the blocks
    val sigCk = onePerId(newDocs, idCol, textCol)
      .select(col(idCol).as("doc_id"),
        TextOps.shingleSet(col(textCol), sk).as("shingles"))
      .withColumn("sig", TextOps.minhashSignature(col("shingles"), nh))
      .localCheckpoint()
    val newSets = sigCk.select(col("doc_id"),
      xxhash64(col("sig")).as("sig_h"),
      transform(col("shingles"), s => xxhash64(s)).as("payload"))
    val newBands = sigCk.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(nb - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1,
          lit(rowsPerBand)), b))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("band_hash"))
    indexProbeCore(spark, indexPath, newSets, newBands, maxBandBucket,
      extendIndex, mustCheck, live, maxIndexFiles,
      (a, b) => TextOps.jaccard(a, b), "jaccard", threshold, maxIdPushdown,
      eagerVerify, serializeIngest, maxStateSplit, pairsSink)
  }

  /** The MODALITY-AGNOSTIC probe core shared by [[minhashLshIndexProbe]]
    * and [[embeddingIndexProbe]]: the caller signatures only the batch
    * into `newSets` (doc_id, sig_h, payload) and `newBands` (doc_id,
    * band, band_hash) matching the persisted layout; this runs the
    * hit-proportional candidate stages, the ≥1-new-side gate, the
    * optional liveness gate, exact verification via `score` over the
    * payloads, and the idempotent extension + compaction. */
  /** Open one index table with a LOUD diagnostic when the directory is
    * not a hadro collection: an index built by a pre-upgrade version
    * stored bare parquet directories, and the generic not-a-collection
    * error never surfaced the rebuild guidance. */
  private def indexCollection(spark: SparkSession, indexPath: String,
      tableName: String): graft.api.Collection = {
    val p = s"$indexPath/$tableName"
    val dir = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.isDirectory(dir)) throw new IllegalArgumentException(
      s"hadro: no LSH index table at $p — run the index build verb first")
    val ok =
      try graft.meta.CollectionMeta.readSchema(dir).isDefined
      catch { case _: Exception => false }
    if (!ok) throw new IllegalArgumentException(
      s"hadro: $p is not a hadro collection — an index built by a " +
        "pre-upgrade version stored bare parquet directories, which this " +
        "version cannot probe or extend in place; delete the index " +
        "directory and rebuild it with the current build verb")
    graft.api.Collection(spark, p)
  }

  /** The index's params sidecar as its single row, or None for a
    * param-less pre-upgrade index (callers fall back to their explicit
    * banding arguments there). "Directory absent" is the ONLY fallback
    * case — a params directory that exists but is unreadable or empty
    * is a corrupted sidecar, and falling back there would let the probe
    * band incompatibly with the index and return silently-wrong pairs;
    * those throw the loud rebuild diagnostic instead. */
  private def indexParams(spark: SparkSession,
      indexPath: String): Option[org.apache.spark.sql.Row] = {
    val dir = java.nio.file.Paths.get(s"$indexPath/params")
    if (!java.nio.file.Files.isDirectory(dir)) None
    else {
      val ok =
        try graft.meta.CollectionMeta.readSchema(dir).isDefined
        catch { case _: Exception => false }
      if (!ok) throw new IllegalArgumentException(
        s"hadro: $indexPath/params exists but is not a readable hadro " +
          "collection — the banding sidecar is corrupted (a pre-upgrade " +
          "param-less index has NO params directory, so this is not the " +
          "fallback case); probing without it could band incompatibly, " +
          "so delete the index directory and rebuild it with the current " +
          "build verb")
      val rows = graft.api.Collection(spark, s"$indexPath/params")
        .toDF().head(1)
      if (rows.isEmpty) throw new IllegalArgumentException(
        s"hadro: $indexPath/params is empty — the banding sidecar is " +
          "corrupted; delete the index directory and rebuild it with the " +
          "current build verb")
      Some(rows.head)
    }
  }

  /** Driver-side cap on the extension's present-id split and the
    * components fold's root collect: both are ≤ |batch| BY CONTRACT
    * (the same bound the broadcast/boundedKeyLits discipline accepts),
    * and this guard turns a corpus-sized "batch" — a whole-log backfill
    * fed as one window — into a loud, named error instead of a driver
    * OOM. Backfills ingest in windows. */
  val DefaultMaxStateSplit: Int = 1 << 22

  /** streamEpochs key recording the last pair-stream window appended for
    * `indexPath` — rides the pairs collection's OWN append commit (the
    * [[graft.api.IncrementalRollup]] stamp mechanism), so "were this
    * window's pairs already persisted?" is answered by the pairs
    * manifest itself and a crash-retry of the window cannot duplicate
    * them. */
  private def pairsEpochKey(indexPath: String): String =
    "hadro-neardup-pairs:" +
      java.nio.file.Paths.get(indexPath).toAbsolutePath.normalize.toString

  /** Per-index JVM monitors backing [[withIngestLease]] (the
    * [[AdmissionBloomWriteLock]] discipline: a JVM-wide monitor per
    * lock path complements the cross-process file lock, which throws
    * OverlappingFileLockException instead of blocking when two threads
    * of ONE JVM contend). */
  private val IngestLeases =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Serialize mutating ingests on one index: JVM monitor + cross-
    * process lock on `indexPath/ingest.lock`, held across
    * pin → probe → extend. The cross-process half rides
    * [[graft.meta.FileIO]]'s `withFileLock` seam — flock on a local
    * filesystem, a conditional-PUT lease on object-store semantics — so
    * the contract ports wherever the collections do. See
    * [[minhashLshIndexProbe]]'s concurrency contract. */
  private[ops] def withIngestLease[T](indexPath: String, enabled: Boolean)(
      body: => T): T =
    if (!enabled) body
    else {
      val canon = java.nio.file.Paths.get(indexPath)
        .toAbsolutePath.normalize
      val mon = IngestLeases.computeIfAbsent(canon.toString, _ => new Object)
      mon.synchronized {
        java.nio.file.Files.createDirectories(canon)
        graft.meta.FileIO.impl.withFileLock(canon.resolve("ingest.lock"))(body)
      }
    }

  private def indexProbeCore(spark: SparkSession, indexPath: String,
      newSets: DataFrame, newBands: DataFrame, maxBandBucket: Int,
      extendIndex: Boolean, mustCheck: Option[DataFrame],
      live: Option[DataFrame], maxIndexFiles: Int,
      score: (Column, Column) => Column, scoreName: String,
      threshold: Double, maxIdPushdown: Int,
      eagerVerify: Boolean,
      serializeIngest: Boolean,
      maxStateSplit: Int = DefaultMaxStateSplit,
      pairsSink: Option[(String, Long)] = None): DataFrame =
      withIngestLease(indexPath, enabled = extendIndex && serializeIngest) {
    // index frames pin the CURRENT manifest version: the extension
    // append below cannot leak this batch's rows into its own probe, a
    // retry's fresh probe sees what the crashed attempt committed, and
    // deferred GC keeps a concurrent sweep/compaction from deleting the
    // pinned version's files mid-read
    val setsColl = indexCollection(spark, indexPath, "sets")
    val bandsColl = indexCollection(spark, indexPath, "bands")
    // EMPTY-INDEX fast path (manifest stats, zero Spark jobs): a freshly
    // built index has no segments, so the pinned scans are provably empty —
    // substitute an empty LocalRelation and Catalyst's
    // PropagateEmptyRelation folds the entire index side (anti-joins,
    // semi-joins, star grouping, union legs) out of the candidate and
    // verification plans at optimization time. The FIRST window of every
    // composed loop otherwise materializes a dozen-plus trivially-empty
    // AQE stages per probe. Checked inside the ingest lease, so no
    // concurrent extension can append between the check and the plan.
    def pinnedOrEmpty(coll: graft.api.Collection): DataFrame = {
      // ONE manifest read feeds both the version pin and the emptiness
      // decision: reading them separately (coll.version is a def over
      // currentManifest) let a concurrent commit land between the two
      // reads, substituting an empty relation for a non-empty pinned scan
      // on dry-run probes that never hold the ingest lease.
      val m = graft.meta.CollectionMeta.currentManifest(
        java.nio.file.Paths.get(coll.path))
      val df = coll.scanVersion(m.version)
      if (m.segments.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          df.schema)
      else df
    }
    val idxSets = pinnedOrEmpty(setsColl)
    val idxBands = pinnedOrEmpty(bandsColl)
    // fail a pre-upgrade index LOUDLY instead of with an unresolved
    // column mid-plan: the current layout stores the verification
    // payload under 'payload' in a doc_id-KEYED collection — an index
    // built by an earlier version cannot be probed or overwritten in
    // place (the stored schema pins field names); delete the index
    // directory and rebuild
    require(idxSets.columns.contains("payload"),
      s"hadro: $indexPath/sets uses a pre-upgrade index layout " +
        s"(columns: ${idxSets.columns.mkString(", ")}) — delete the " +
        "index directory and rebuild it with the current build verb")
    // A batch id already present in the index — a crash-retry, or a
    // re-crawl whose content changed — must probe under its BATCH
    // signature ALONE: anti-join the pinned frames by the batch's
    // broadcast id set (the read-side twin of the extension's
    // present-id split below), so a retried probe reproduces the
    // original run instead of pairing every batch doc against its own
    // stored copy 2-4x, and a changed doc never scores under its stale
    // signature. Map-only: a broadcast hash anti-join on the scans.
    val newIds = newSets.select(col("doc_id"))
    val idxSetsCur = idxSets.join(broadcast(newIds), Seq("doc_id"), "left_anti")
    val idxBandsCur = idxBands.join(broadcast(newIds), Seq("doc_id"), "left_anti")
    // HIT-PROPORTIONAL bucket counts: only buckets the batch probes can
    // gate candidates, so restrict the index side to the batch's bucket
    // set BEFORE the groupBy — a broadcast semi-join keeps the index
    // scan map-only and the count shuffle carries O(batch) rows, not
    // every band row the corpus ever wrote. Counts for surviving
    // buckets are computed over index ∪ batch, exactly as before.
    // no distinct on the semi-join's broadcast side: the broadcast hash
    // relation dedups keys as it builds, so the distinct only added a
    // shuffle stage per probe
    val batchBuckets = newBands.select(col("band"), col("band_hash"))
    val probedBands = idxBandsCur
      .join(broadcast(batchBuckets), Seq("band", "band_hash"), "left_semi")
      .unionByName(newBands)
    // Bucket-usability counts as ONE window over the probed rows instead
    // of a groupBy + join-back: same counts over the same index∪batch
    // frame, one shuffle (whose partitioning the candidate join below
    // reuses — same key) instead of two, and probedBands is referenced
    // ONCE — the groupBy+join shape re-inlined the whole index∪batch
    // subtree per reference, which is where the dry-run probes' 300+-node
    // lazy plans came from (guide §2.4 / §5 plan size). A degenerate
    // over-cap bucket is one window partition — the join-back put the
    // same bucket's rows on one partition anyway.
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_hash"))
    val usableRows = probedBands
      .withColumn("__bc", count(lit(1)).over(wBucket))
      .filter(col("__bc") >= 2 && col("__bc") <= maxBandBucket)
      .select(col("band"), col("band_hash"), col("doc_id"))
    // the NEW side probes the union: new-old and new-new candidates fall
    // out, old-old never joins (nothing corpus-quadratic anywhere). The
    // usability gate lives entirely on the q side: the join's key
    // equality already confines every pair to q's (usable) bucket, so
    // filtering the p side too was a redundant second join.
    val bandCandidates = newBands
      .select(col("band"), col("band_hash"), col("doc_id").as("p"))
      .join(usableRows.withColumnRenamed("doc_id", "q"),
        Seq("band", "band_hash"))
      .filter(col("p") =!= col("q"))
      .select(least(col("p"), col("q")).as("doc_a"),
        greatest(col("p"), col("q")).as("doc_b"))
    // identical-signature stars, restricted to clusters that gained a
    // new member (old-only clusters were reported on their own ingest).
    // Same hit-proportional move: only signatures the BATCH carries can
    // be "gained", so the index side semi-joins the batch's broadcast
    // sig_h set before the grouping — identical stars, O(batch) shuffle.
    // Same one-window shape as the bucket counts (rep/count/any-new over
    // a sig_h window replaces groupBy + join-back); rep = min(doc_id) of
    // the cluster, so rep < doc_id on every emitted row and the pair is
    // already canonical.
    val batchSigs = newSets.select(col("sig_h")) // semi side: no distinct
    val sigAll = idxSetsCur.select(col("doc_id"), col("sig_h"))
      .join(broadcast(batchSigs), Seq("sig_h"), "left_semi")
      .withColumn("is_new", lit(false))
      .unionByName(newSets.select(col("doc_id"), col("sig_h"),
        lit(true).as("is_new")))
    val wSig = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sig_h"))
    val sigStars = sigAll
      .withColumn("__rep", min(col("doc_id")).over(wSig))
      .withColumn("__n", count(lit(1)).over(wSig))
      .withColumn("__any_new", max(col("is_new").cast("int")).over(wSig))
      .filter(col("__n") >= 2 && col("__any_new") === 1 &&
        col("doc_id") =!= col("__rep"))
      .select(col("__rep").as("doc_a"), col("doc_id").as("doc_b"))
    val pinned = mustCheck.map(_.select(
      least(col("doc_a"), col("doc_b")).as("doc_a"),
      greatest(col("doc_a"), col("doc_b")).as("doc_b")))
    val candidates = pinned
      .foldLeft(bandCandidates.unionByName(sigStars))(_ unionByName _)
      .distinct()
    // ≥1-new-side restriction (stars/pins may carry old-old pairs).
    // `candidates` is already distinct and batch ids are unique (onePerId),
    // so "semi-join on doc_a ∪ semi-join on doc_b, distinct" is exactly a
    // filter: two map-only broadcast left joins + an OR — one fewer
    // exchange (the union-distinct) and one fewer pass over the candidate
    // set, with identical rows.
    // the new-side flags stay on the frame (boolean, non-null): the
    // bounded fast path below derives each pair's OLD side driver-side
    // from them with zero extra work. (Batch-id LITERAL predicates were
    // tried here instead of the broadcasts and measured WORSE: a
    // several-hundred-literal IN repeated across the probe's five
    // membership sites bloats every action's analysis/pushdown-translation
    // time past the ~4 broadcast stage materializations it saves.)
    val restricted = candidates
      .join(broadcast(newIds.withColumnRenamed("doc_id", "doc_a")
        .withColumn("__ja", lit(true))), Seq("doc_a"), "left")
      .join(broadcast(newIds.withColumnRenamed("doc_id", "doc_b")
        .withColumn("__jb", lit(true))), Seq("doc_b"), "left")
      .filter(col("__ja").isNotNull || col("__jb").isNotNull)
      .select(col("doc_a"), col("doc_b"),
        col("__ja").isNotNull.as("__new_a"),
        col("__jb").isNotNull.as("__new_b"))
    val restrictedPairs = restricted.select(col("doc_a"), col("doc_b"))
    val allSets = idxSetsCur.unionByName(newSets)
    def verified(cands: DataFrame, src: DataFrame): DataFrame = cands
      .join(src.select(col("doc_id").as("doc_a"),
        col("payload").as("p_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"),
        col("payload").as("p_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        score(col("p_a"), col("p_b")).as(scoreName))
      .filter(col(scoreName) >= threshold)
    // Default dry-run probes stay FULLY LAZY (zero actions at
    // construction, the map-only broadcast-join scan) — the documented
    // contract, unchanged.
    if (!extendIndex && !eagerVerify && live.isEmpty)
      verified(restrictedPairs, allSets)
    else {
      // BOUNDED DRIVER-SIDE CANDIDATE WINDOW: every materializing mode
      // (extend — the nightly shape — eagerVerify, and the live gate,
      // which always needed actions) starts with ONE bounded executeTake
      // over the candidate pipeline. Within `maxIdPushdown` pairs — the
      // nightly norm: candidates are hit-proportional — the pairs land
      // in a driver-local relation, so the live gate, the verification
      // join, the id pushdown, the empty-window check and the returned
      // frame all read driver rows instead of re-materializing the
      // banding pipeline per reference (r18's Profile measured the
      // checkpoints this replaces at ~28 tiny AQE stage jobs per probe —
      // the composed loops' per-window latency floor). Over bound,
      // everything falls back to the r18 checkpoint/broadcast shape over
      // the same (lazy, see Collection.boundedRows) checkpoint the fetch
      // filled — the banding pipeline runs once either way, same results.
      val restrictedCk = restricted.localCheckpoint(eager = false)
      val (cands, candLits, bounded) =
        boundedRows(restrictedCk, maxIdPushdown) match {
        case Some(fetched) =>
          val ia = restricted.schema.fieldIndex("doc_a")
          val ib = restricted.schema.fieldIndex("doc_b")
          val ifa = restricted.schema.fieldIndex("__new_a")
          val ifb = restricted.schema.fieldIndex("__new_b")
          // delete-awareness, driver-side: each pair's OLD sides (false
          // new-flag = not in tonight's batch) must still be live. One
          // point-read of `live` restricted to the bounded old-id set
          // (an IN predicate) replaces the distributed gate's checkpoint
          // + three broadcast materializations; new sides are live by
          // definition.
          val kept = live match {
            case None => fetched
            case Some(lv) =>
              val oldIds = fetched.iterator.flatMap { r =>
                (if (!r.getBoolean(ifa)) Iterator.single(r.get(ia))
                 else Iterator.empty) ++
                  (if (!r.getBoolean(ifb)) Iterator.single(r.get(ib))
                   else Iterator.empty)
              }.toSeq.distinct
              if (oldIds.isEmpty) fetched
              else {
                val liveOld = lv.filter(col(lv.columns.head).isin(oldIds: _*))
                  .select(lv.columns.head)
                  .distinct().collect().map(_.get(0)).toSet
                fetched.filter { r =>
                  (r.getBoolean(ifa) || liveOld.contains(r.get(ia))) &&
                    (r.getBoolean(ifb) || liveOld.contains(r.get(ib)))
                }
              }
          }
          val pairList =
            new java.util.ArrayList[org.apache.spark.sql.Row](kept.length)
          kept.foreach(r => pairList.add(
            org.apache.spark.sql.Row(r.get(ia), r.get(ib))))
          val localDf = spark.createDataFrame(pairList,
            org.apache.spark.sql.types.StructType(
              restrictedPairs.schema.fields))
          val ids = kept.iterator
            .flatMap(r => Iterator(r.get(ia), r.get(ib))).toSeq.distinct
          (localDf, if (ids.size <= maxIdPushdown) Some(ids) else None,
            true)
        case None =>
          // over-bound fallback: the r18 shape. Delete-awareness first —
          // the candidates' old-side ids broadcast into a map-only scan
          // of `live`; the surviving set broadcasts back into the pair
          // filter, checkpointed once (left lazy, the pipeline re-executes
          // per reference — measured 9x). The bounded id set pushes into
          // the keyed sets scan as an IN predicate (key bloom / key-offset
          // pruned) when it fits, else the map-only broadcast-join scan.
          val pairs = restrictedCk.select(col("doc_a"), col("doc_b"))
          val cs = live.fold(pairs) { lv =>
            val oldIds = pairs.select(col("doc_a").as("doc_id"))
              .unionByName(pairs.select(col("doc_b").as("doc_id")))
              .distinct()
              .join(broadcast(newIds), Seq("doc_id"), "left_anti")
            val liveOld = lv.select(col(lv.columns.head).as("doc_id"))
              .join(broadcast(oldIds), Seq("doc_id"), "left_semi")
            val ok = newIds.unionByName(liveOld).localCheckpoint()
            pairs
              .join(broadcast(ok.withColumnRenamed("doc_id", "doc_a")),
                Seq("doc_a"), "left_semi")
              .join(broadcast(ok.withColumnRenamed("doc_id", "doc_b")),
                Seq("doc_b"), "left_semi")
              .localCheckpoint()
          }
          val candIds = cs.select(col("doc_a").as("doc_id"))
            .unionByName(cs.select(col("doc_b").as("doc_id"))).distinct()
          (cs, boundedKeyLits(candIds, maxIdPushdown), false)
      }
      val src = candLits.fold(allSets)(vs =>
        allSets.filter(col("doc_id").isin(vs: _*)))
      if (!extendIndex) verified(cands, src)
      else {
      // materialize the pairs BEFORE the index mutates: a consumer
      // failure after this call must be retryable without re-probing an
      // already-extended index under its feet. In the bounded path the
      // verified pairs (≤ the candidate bound by construction) collect
      // into a driver-local relation — cheaper than a checkpoint,
      // equally mutation-proof, and the empty-window check is free.
      val vdf = verified(cands, src)
      val (result, resultEmpty) =
        if (bounded) {
          val rs = vdf.collect()
          val lst = new java.util.ArrayList[org.apache.spark.sql.Row](rs.length)
          rs.foreach(lst.add)
          (spark.createDataFrame(lst, vdf.schema), () => rs.isEmpty)
        } else {
          val r = vdf.localCheckpoint()
          (r, () => r.isEmpty)
        }
      // PERSISTED PAIR STREAM (the composed-pipeline seam): append the
      // window's pairs to an append-only hadro collection INSIDE the
      // lease, BEFORE the index mutates. Exactly-once across crash
      // retries without any dedup read: the caller's monotonically-
      // increasing window id rides the append commit as a streamEpochs
      // stamp — a retry (same id, and the retried probe provably
      // reproduces the original pairs) sees id already applied and skips
      // the append; a crash AFTER the append but before the extension
      // re-probes the unextended index, skips, and re-runs the
      // (idempotent) extension. A downstream cursor-tagged consumer
      // ([[graft.ops.ClusterOps.componentsCycle]]) therefore replays a
      // crashed window instead of losing its pairs.
      pairsSink.foreach { case (pairsPath, windowId) =>
        val pp = java.nio.file.Paths.get(pairsPath)
        val key = pairsEpochKey(indexPath)
        val applied =
          try graft.meta.CollectionMeta.currentManifest(pp)
            .streamEpochs.get(key)
          catch { case _: Exception => None } // first window: no manifest
        // ONLY the exact crash-retry case (same id) skips; a STRICTLY
        // LOWER id is a protocol error, never a silent drop — a caller
        // whose window-id sequence regressed (a streaming query
        // restarted with a FRESH checkpoint resets batch ids to 0, a
        // stale orchestrator replays an old window number) would
        // otherwise keep extending the index while its pairs never
        // reach the log, silently diverging membership/keep-list from
        // the index until the corpus is re-bootstrapped.
        applied.filter(_ > windowId).foreach { a =>
          throw new IllegalStateException(
            s"hadro: pairs sink $pairsPath already recorded window $a " +
              s"for index $indexPath but this probe carries window id " +
              s"$windowId — the window-id sequence regressed (stale " +
              "caller, or a streaming checkpoint was reset so batch ids " +
              "restarted). Resume from a window id above the recorded " +
              "one, or point a genuinely new pipeline at a fresh pairs " +
              "collection")
        }
        // empty windows skip the append entirely (no epoch either —
        // re-appending nothing on a retry is a no-op, so the stamp
        // buys nothing and the pairs collection stays commit-per-
        // nonempty-window)
        if (!applied.contains(windowId) && !resultEmpty()) {
          graft.meta.CollectionMeta.registerCommitEpoch(pp, key, windowId)
          // modality-uniform log schema (doc_a, doc_b, score, metric):
          // a text probe and an embedding probe can feed ONE pairs
          // collection (the cross-modal composed loop) — per-index
          // epoch keys already keep their stamps independent
          try result.select(col("doc_a"), col("doc_b"),
              col(scoreName).cast("double").as("score"),
              lit(scoreName).as("metric"))
            .write.format("hadro").mode("append").save(pairsPath)
          finally graft.meta.CollectionMeta.clearCommitEpoch(pp)
          // the pair log accrues one small segment per nonempty window
          // forever — bin-pack like the index tables. Safe under
          // consumers: their cursor TAGS pin floor manifests/files
          // against GC; a caught-up consumer's next window walks through
          // the compaction (h93 property), and a LAGGING consumer whose
          // window the bin-pack crossed falls back to an exact
          // full-snapshot re-fold (componentsCycle — idempotent edges).
          maybeCompactIndex(graft.api.Collection(spark, pairsPath),
            maxIndexFiles)
        }
      }
      // MUTATION-AWARE, IDEMPOTENT extension: per table, batch ids
      // divide into ABSENT (plain insert), UNCHANGED (stored rows match
      // tonight's — the crash-retry case, a no-op) and CHANGED (a
      // re-crawled id whose content moved: deletion-vector-mask the
      // stale rows, then append the new ones — DVs hide exact physical
      // rows at scan time map-only and never flip the `mutated` flag,
      // so raw index scans stay resolve-free). Change detection is per
      // TABLE so a crash between the sets and bands commits heals on
      // retry (whichever table lagged still sees its own mismatch);
      // within a table the DV delete commits BEFORE the append, so no
      // committed state ever shows two live row-sets for one id. Every
      // detection frame is hit-proportional: the index side semi-joins
      // the batch's broadcast id set map-only, so the split shuffles
      // O(batch) rows and the DV deletes carry a batch-bounded IN
      // (key-bloom-pruned on the keyed sets; min/max-segment-pruned on
      // bands, where a nightly batch's ids cluster in recent segments).
      val extendTable = (tbl: graft.api.Collection, rows: DataFrame,
          split: Array[(Any, Boolean)]) => {
        // split: (doc_id, same) for batch ids PRESENT in this table,
        // already driver-resident (ONE fused detection job for both
        // tables — see below); drive the DV delete and the append's
        // exclusion list from the local values (an all-new nightly
        // batch pays exactly one map-only index scan + one write per
        // table; no per-stage checkpoint jobs)
        val changed = split.filter(!_._2).map(_._1).toSeq
        if (changed.nonEmpty) {
          // the change set rides a literal IN — it reaches the scan as a
          // pushed source filter, so per-segment stats (and the key bloom
          // on the keyed sets table) prune the delete's read to the
          // touched segments
          graft.spark.HadroDeleteSupport.dvDeleteWhere(
            java.nio.file.Paths.get(tbl.path), col("doc_id").isin(changed: _*))
        }
        val unchanged = split.filter(_._2).map(_._1).toSeq
        val toWrite = if (unchanged.isEmpty) rows
          else rows.filter(!col("doc_id").isInCollection(unchanged))
        toWrite.write.format("hadro").mode("append").save(tbl.path)
      }
      // sets: one row per id — unchanged iff sig_h and the payload
      // fingerprint both match (xxhash64 over the stored payload, an
      // exact content check modulo 2^-64 — near-identical texts CAN
      // share a full MinHash signature, so sig_h alone under-detects)
      val setsState = idxSets
        .select(col("doc_id"), col("sig_h"), xxhash64(col("payload")).as("fp"))
        .join(broadcast(newSets.select(col("doc_id"),
          col("sig_h").as("nsig"), xxhash64(col("payload")).as("nfp"))),
          Seq("doc_id"))
        // per ID over ALL its stored rows: unchanged only when the single
        // stored row matches — an id holding duplicate rows (written by a
        // pre-dedupe version) counts as changed, so the DV-delete +
        // re-append HEALS it to one row instead of the changed/unchanged
        // split deleting every copy while the append excludes it
        .groupBy(col("doc_id"))
        .agg(min(col("sig_h") === col("nsig") && col("fp") === col("nfp"))
          .as("allmatch"), count(lit(1)).as("nrows"))
        .select(col("doc_id"),
          (col("allmatch") && col("nrows") === 1).as("same"))
      // bands: `bands` rows per id — unchanged iff every (band,
      // band_hash) row matches AND each band holds exactly ONE stored
      // row (the sets-side nrows guard's twin: an id carrying exact
      // duplicate band rows — written by a pre-dedupe version — must
      // classify as changed so the DV-delete + re-append HEALS it to one
      // row set, instead of full-joining row-per-row, matching on every
      // copy, and inflating bucket counts forever); the full join also
      // catches a crash that left partial band rows (either side null =>
      // changed)
      val idxBandsBatch = idxBands
        .join(broadcast(newIds), Seq("doc_id"), "left_semi")
      val bandsPresent = idxBandsBatch.select(col("doc_id")).distinct()
      val bandsState = idxBandsBatch
        .groupBy(col("doc_id"), col("band"))
        .agg(min(col("band_hash")).as("oh"), count(lit(1)).as("n_old"))
        .join(newBands.join(broadcast(bandsPresent), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("band"), col("band_hash").as("nh")),
          Seq("doc_id", "band"), "full")
        .groupBy(col("doc_id"))
        .agg(max(col("oh").isNull || col("nh").isNull ||
          col("oh") =!= col("nh") || col("n_old") =!= 1).as("diff"))
        .select(col("doc_id"), (!col("diff")).as("same"))
      // ONE detection action for BOTH tables: the per-table split frames
      // full-outer join on doc_id — a side's null means the id is absent
      // from that table (a plain insert there), so the per-table healing
      // semantics are exactly the two separate fetches' — and the driver
      // pays one job instead of two. A corpus-sized "batch" (a whole-log
      // backfill fed as one window) fails LOUDLY: the |batch| bound is a
      // CONTRACT, not an accident — backfills must ingest in windows.
      val stBoth = boundedRows(setsState.withColumnRenamed("same", "s_same")
          .join(bandsState.withColumnRenamed("same", "b_same"),
            Seq("doc_id"), "full_outer"), maxStateSplit)
        .getOrElse(throw new IllegalArgumentException(
          s"hadro: index extension for $indexPath found more than " +
            s"maxStateSplit ($maxStateSplit) batch ids already present. " +
            "The changed/unchanged split is driver-resident by design " +
            "(bounded by |batch|); ingest a backfill of this size in " +
            "windows instead of one batch, or raise maxStateSplit if the " +
            "driver is sized for it"))
      extendTable(setsColl, newSets,
        stBoth.filter(!_.isNullAt(1)).map(r => (r.get(0), r.getBoolean(1))))
      extendTable(bandsColl, newBands,
        stBoth.filter(!_.isNullAt(2)).map(r => (r.get(0), r.getBoolean(2))))
      // bounded small segments: nightly appends add a few per ingest
      // forever — bin-pack (atomic replace commit, reader-safe via
      // deferred GC) once the count crosses the threshold
      maybeCompactIndex(setsColl, maxIndexFiles)
      maybeCompactIndex(bandsColl, maxIndexFiles)
      result
      }
    }
  }

  private[ops] def maybeCompactIndex(idx: graft.api.Collection,
      maxSegments: Int): Unit =
    if (maxSegments > 0 && graft.meta.CollectionMeta.currentManifest(
        java.nio.file.Paths.get(idx.path)).segments.size > maxSegments) {
      idx.compactSmall(1L << 30)
      ()
    }

  /** PERSISTED sign-LSH index for INCREMENTAL EMBEDDING near-dup — the
    * [[minhashLshIndexBuild]] twin for the embedding modality (same
    * hadro-collection layout and guarantees; [[sweepLshIndex]] and the
    * probe's maintenance apply unchanged): `sets` (doc_id, sig_h = the
    * full sign signature, payload = the raw vector for exact cosine
    * verification) and `bands` (doc_id, band, band_hash). The banding
    * parameters ride a one-row `params` collection so a probe can never
    * signature a batch incompatibly with the index it probes. `bits`
    * fixes the per-band hyperplane count for the index's LIFETIME —
    * unlike the batch path's corpus-sized default ([[lshBitsFor]]), an
    * incremental index must band identically forever; size it for the
    * corpus you expect, not the corpus you start with. */
  def embeddingIndexBuild(df: DataFrame, idCol: String, vecCol: String,
      indexPath: String, bits: Int = 12, numBands: Int = 4): Unit = {
    require(bits * numBands <= 62,
      s"signature too wide: $numBands bands x $bits bits")
    val spark = df.sparkSession
    import spark.implicits._
    Seq((bits, numBands)).toDF("bits", "bands")
      .write.format("hadro").mode("overwrite").save(s"$indexPath/params")
    val withSig = embeddingSigned(onePerId(df, idCol, vecCol), idCol,
      vecCol, bits, numBands)
    // keyed by doc_id for the same pushdown-pruned verification fetch
    // as the MinHash index (see [[minhashLshIndexBuild]])
    withSig.select(col("doc_id"), col("sig_h"), col("payload"))
      .write.format("hadro").mode("overwrite")
      .option("hadro.key", "doc_id").save(s"$indexPath/sets")
    embeddingBanded(withSig, bits, numBands)
      .write.format("hadro").mode("overwrite").save(s"$indexPath/bands")
  }

  private def embeddingSigned(df: DataFrame, idCol: String, vecCol: String,
      bits: Int, numBands: Int): DataFrame =
    df.select(col(idCol).as("doc_id"), col(vecCol).as("payload"))
      .withColumn("sig_h",
        SimilarityOps.signLshSignature(col("payload"), bits * numBands))

  private def embeddingBanded(signed: DataFrame, bits: Int,
      numBands: Int): DataFrame = {
    val bandMask = (1L << bits) - 1
    signed.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(numBands - 1)),
        b => call_function("shiftrightunsigned", col("sig_h"), b * lit(bits))
          .bitwiseAND(lit(bandMask)))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("band_hash"))
  }

  /** INCREMENTAL embedding near-dup: probe a new vector batch against an
    * [[embeddingIndexBuild]] index — [[minhashLshIndexProbe]]'s
    * semantics verbatim (≥1-new-side pairs, hit-proportional candidate
    * stages, `mustCheck` pins, `live` gate, mutation-aware idempotent
    * extension, ingest lease, bounded segments) with exact COSINE
    * verification over
    * the stored vectors; identical-signature stars cover over-cap
    * identical-DIRECTION clusters exactly as in
    * [[embeddingNearDupPairs]] (positive scaling preserves every
    * hyperplane sign). Banding parameters come from the index's own
    * `params` sidecar. Returns (id_a, id_b, cosine). */
  def embeddingIndexProbe(spark: SparkSession, newDocs: DataFrame,
      idCol: String, vecCol: String, indexPath: String,
      threshold: Double = 0.9, maxBandBucket: Int = 200,
      extendIndex: Boolean = true,
      mustCheck: Option[DataFrame] = None,
      live: Option[DataFrame] = None,
      maxIndexFiles: Int = 64,
      maxIdPushdown: Int = graft.api.Collection.MaxKeyPushdown,
      eagerVerify: Boolean = false,
      serializeIngest: Boolean = true,
      maxStateSplit: Int = DefaultMaxStateSplit,
      pairsSink: Option[(String, Long)] = None): DataFrame = {
    val params = indexParams(spark, indexPath).getOrElse(
      throw new IllegalArgumentException(
        s"hadro: no params sidecar at $indexPath — not an index built by " +
          "embeddingIndexBuild / CALL embedding_index_build"))
    require(Seq("bits", "bands").forall(params.schema.fieldNames.contains),
      s"hadro: $indexPath is not a sign-LSH embedding index (params: " +
        s"${params.schema.fieldNames.mkString(", ")}) — a MinHash text " +
        "index probes via minhashLshIndexProbe / CALL neardup_probe")
    // by NAME, never position (see minhashLshIndexProbe)
    val bits = params.getInt(params.fieldIndex("bits"))
    val numBands = params.getInt(params.fieldIndex("bands"))
    // one sign-LSH pass over the DEDUPLICATED batch (the sigCk +
    // onePerId discipline — see minhashLshIndexProbe)
    val sigCk = embeddingSigned(onePerId(newDocs, idCol, vecCol),
      idCol, vecCol, bits, numBands).localCheckpoint()
    val pins = mustCheck.map(_.select(col("id_a").as("doc_a"),
      col("id_b").as("doc_b")))
    indexProbeCore(spark, indexPath, sigCk,
      embeddingBanded(sigCk, bits, numBands), maxBandBucket,
      extendIndex, pins, live, maxIndexFiles,
      (a, b) => SimilarityOps.cosine(a, b), "cosine", threshold,
      maxIdPushdown, eagerVerify, serializeIngest, maxStateSplit, pairsSink)
      .withColumnRenamed("doc_a", "id_a")
      .withColumnRenamed("doc_b", "id_b")
  }

  /** PHYSICAL sweep of a [[minhashLshIndexBuild]] index — the
    * maintenance complement of the probe's `live` re-validation (the
    * ANN `sweepSqIndex` analog): rewrite `sets` and `bands` keeping
    * only rows whose doc id is in `live` (one column, e.g.
    * `collection.ids()` resolved at a pinned manifest version), so
    * probes reflect deletes with no per-query `live` cost. Each table
    * rewrite is pinned to the manifest version the sweep planned
    * against and published with the version-pinned REPLACE commit (the
    * compact() / sweepSqIndex protocol), so an extension appending
    * mid-sweep is PRESERVED instead of silently erased, and concurrent
    * probes keep reading their pinned snapshots (deferred GC). Returns
    * the number of `sets` rows (docs) swept away. Corpus-proportional
    * by definition (it rewrites the index) — run it when churn
    * accumulates, not per ingest. */
  def sweepLshIndex(spark: SparkSession, indexPath: String,
      live: DataFrame): Long = {
    val liveIds = live.select(col(live.columns.head).as("doc_id"))
      .localCheckpoint()
    val sets = graft.api.Collection(spark, s"$indexPath/sets")
    val bandsC = graft.api.Collection(spark, s"$indexPath/bands")
    val swept = sweepIndexTable(sets, liveIds,
      graft.meta.CollectionMeta.currentManifest(
        java.nio.file.Paths.get(sets.path)))
    // the bands count (16x the rows for the same docs) is never
    // consumed — skip its extra materialization pass
    sweepIndexTable(bandsC, liveIds,
      graft.meta.CollectionMeta.currentManifest(
        java.nio.file.Paths.get(bandsC.path)), countSwept = false)
    swept
  }

  /** One-table sweep against an explicitly pinned manifest — the seam
    * the concurrent-extend contract is specified through (an append
    * committed after `m0` must survive the replace). With `countSwept`
    * the swept-row count comes from ONE materialization that also feeds
    * the write (the sweepSqIndex discipline); the pre-sweep total is
    * manifest-exact — no tombstones (mutation masks stale rows with
    * deletion vectors, counted per segment as `dvDeletes`), so no full
    * pre-count scan is needed. */
  private[graft] def sweepIndexTable(idx: graft.api.Collection,
      liveIds: DataFrame, m0: graft.meta.Manifest,
      countSwept: Boolean = true): Long = {
    val snapshot = idx.scanVersion(m0.version)
    val kept = snapshot.join(liveIds, Seq("doc_id"), "left_semi")
    def write(df: DataFrame): Unit =
      df.write.format("hadro").mode("overwrite")
        .option("hadro.compactOf", m0.version.toString)
        .option("hadro.compactOfGen", m0.generation.toString)
        .option("hadro.key", idx.keyField.orNull) // keyed sets stay keyed
        .save(idx.path)
    if (!countSwept) { write(kept); 0L }
    else {
      val before = m0.segments.map(s => s.rows - s.dvDeletes).sum
      val keptP =
        kept.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val keptCount = keptP.count()
        write(keptP)
        before - keptCount
      } finally keptP.unpersist()
    }
  }

  /** Benchmark decontamination — the training-set hygiene pass: flag every
    * corpus document sharing at least one word `n`-gram with a benchmark /
    * eval corpus (the 13-gram overlap rule used by GPT-3- and PaLM-style
    * data pipelines). Returns (doc_id, n_hit_ngrams), one row per
    * contaminated document.
    *
    * Scale shape: eval suites are tiny (MBs) next to a 100 TB corpus, so
    * the benchmark's distinct n-gram set is BROADCAST — the corpus side is
    * map-only (shingle + hash-probe, no corpus shuffle); the only shuffle
    * aggregates hit counts, whose volume is proportional to contamination,
    * not corpus size. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int = 13): DataFrame = {
    // Grams are hashed to 8-byte longs BEFORE the broadcast join (the d04
    // hashed-shingle discipline): the broadcast relation carries longs
    // instead of ~13-word strings (an order of magnitude smaller build +
    // probe), and the corpus side's join key is one xxhash64 instead of a
    // long string hashed inside the hash-join anyway. Distinct-hit counts
    // survive hashing (collision odds 2^-64 per gram pair).
    val benchGrams = benchmark
      .select(explode(transform(TextOps.shingleSet(col(textCol), n),
        s => xxhash64(s))).as("ngram"))
      .distinct()
    val corpusGrams = TextOps.parallelized(corpus)
      .select(col(idCol).as("doc_id"),
        explode(transform(TextOps.shingleSet(col(textCol), n),
          s => xxhash64(s))).as("ngram"))
    corpusGrams.join(broadcast(benchGrams), Seq("ngram"))
      .groupBy("doc_id")
      // shingleSet is distinct per doc, so plain count = distinct hits
      .agg(count(lit(1)).as("n_hit_ngrams"))
  }

  /** EDIT-DISTANCE near-duplicate pairs: candidate pairs from the
    * inverted-index n-gram stage (key-equality shuffle, df-capped — never
    * all-pairs), verified by Levenshtein distance <= `maxDist` instead of
    * Jaccard. The right verifier when edits are CHARACTER-level (OCR
    * noise, typo farms, template fill-ins) — token-set Jaccard barely
    * moves under single-character edits inside words, while edit distance
    * counts them directly. Levenshtein is Spark's builtin (codegen'd DP,
    * O(len²) per CANDIDATE pair only). Returns (doc_a, doc_b, dist). */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 10, shingleK: Int = 3, minShared: Int = 3,
      maxDocFreq: Int = 100): DataFrame = {
    // candidates only — no Jaccard verify join, no shingle-array shuffle;
    // the DP below is the sole verification. Sets persist because the
    // candidate stage reads the inverted index twice (df-count + join).
    val cands = ngramCandidates(
      hashedShingleSets(df, idCol, textCol, shingleK)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      minShared, maxDocFreq)
    val a = df.select(col(idCol).as("doc_a"), col(textCol).as("__ta"))
    val b = df.select(col(idCol).as("doc_b"), col(textCol).as("__tb"))
    cands.join(a, "doc_a").join(b, "doc_b")
      // |len(a)-len(b)| lower-bounds edit distance: most candidate pairs
      // skip the DP entirely, and the THRESHOLDED levenshtein bands the
      // rest (returns -1 past maxDist instead of filling the full table)
      .filter(abs(length(col("__ta")) - length(col("__tb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** Near-dup cluster CANONICALIZATION: group near-duplicates (n-gram
    * Jaccard pairs → connected components) and keep exactly one
    * representative per cluster — the LONGEST text, ties to the smallest
    * id. "Keep the best copy, drop the rest" is the step real cleaning
    * pipelines run after pair detection: pairwise drop rules (like
    * [[semanticDedup]]'s keep-earliest) can drop every member of a
    * transitive chain, while a per-cluster argmax provably keeps one.
    *
    * Returns one row per cluster: (cluster, keep_id, n_members). Scale
    * shape: pairs and components are the existing bounded machinery; the
    * argmax is one window over |clustered docs| — near-dup density, not
    * corpus size. Docs in no cluster need no row (nothing to drop). */
  def clusterKeepBest(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.6): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol,
      shingleK = shingleK, threshold = threshold)
    val cc = ClusterOps.connectedComponents(pairs, "doc_a", "doc_b")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
      .orderBy(length(col(textCol)).desc, col(idCol))
    cc.join(df, cc("node") === df(idCol))
      .withColumn("__rk", row_number().over(w))
      .groupBy(col("cluster"))
      .agg(min(when(col("__rk") === 1, col(idCol))).as("keep_id"),
        count(lit(1)).as("n_members"))
  }

  /** INCREMENTAL exact dedup: drop incoming-batch documents whose content
    * already exists in a previously-ingested corpus (then self-dedup the
    * survivors). This is the recurring-crawl shape — yesterday's 100 TB
    * corpus is fixed, today's multi-TB batch must be admitted
    * duplicate-free — where re-running a full-corpus [[exactDedup]] per
    * batch would be O(corpus) every day instead of O(batch).
    *
    * Scale shape: both sides reduce to 32-byte sha2 content hashes before
    * any shuffle, so the anti-join moves hashes, not documents; the corpus
    * side prunes to distinct hashes (one shuffle that at 100 TB is the
    * hash set, ~3 orders smaller than the text). Spark's runtime bloom
    * filter (`spark.sql.optimizer.runtime.bloomFilter.enabled`) then
    * prunes the probe side of the anti-join before the shuffle — the
    * classic broadcast-bloom prefilter without hand-building one. The
    * survivors' within-batch self-dedup keeps the earliest id, same rule
    * as [[exactDedup]].
    *
    * Returns the admitted batch rows: (id, n_batch_copies), one row per
    * distinct admitted content, id = smallest batch id carrying it.
    * Mirrors the reference's content-addressed put-if-absent semantics
    * (`hadro/engine.py:74-88` single-copy keys) at corpus scale. */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val h = sha2(col(textCol), 256)
    val corpusHashes = corpus.select(h.as("content_hash")).distinct()
    batch.select(col(idCol), h.as("content_hash"))
      .join(corpusHashes, Seq("content_hash"), "left_anti")
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_batch_copies"))
      .drop("content_hash")
  }

  /** Build a persisted ADMISSION BLOOM over the corpus' content hashes —
    * the amortized half of [[bloomIncrementalDedup]]. One distributed
    * pass: each partition folds its `xxhash64(sha2(text))` values into a
    * local filter, partials OR together up a tree, the driver persists
    * one file of `bits/8` bytes. Size `bits` at ~10x the expected doc
    * count for ~1% fp with k=7 (the default 64 M bits / 8 MiB covers
    * ~6 M docs). Rebuild after bulk corpus mutation; APPEND-only growth can
    * instead fold each admitted batch in with [[graft.format.KeyBloom
    * .union]] and re-persist. */
  def buildAdmissionBloom(corpus: DataFrame, textCol: String,
      path: String, bits: Int = 8 * 1024 * 1024 * 8): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val k = graft.format.KeyBloom.DefaultK
    val bloom = corpus
      .select(xxhash64(sha2(col(textCol), 256)).as("hx")).as[Long]
      .rdd.treeAggregate(graft.format.KeyBloom(bits, k))(
        (b, h) => { b.addHash(h); b }, (a, b) => a.union(b))
    bloom.writeTo(java.nio.file.Paths.get(path))
  }

  /** Fold a newly-ADMITTED batch into the persisted admission bloom —
    * the append-only growth path: after [[bloomIncrementalDedup]] admits
    * a batch into the corpus, one O(batch) pass keeps the filter current
    * without rebuilding over the whole history. The partial is built at
    * the persisted filter's exact shape and OR-merged in; the rewrite is
    * atomic (tmp + rename) so a concurrent reader sees the old or new
    * filter, never a torn one — and either is SOUND for admission (the
    * old filter just verifies a few more positives exactly). */
  def updateAdmissionBloom(admitted: DataFrame, textCol: String,
      path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    val existing = graft.format.KeyBloom.readFrom(p).getOrElse(
      throw new IllegalArgumentException(
        s"no admission bloom at $path — run buildAdmissionBloom first"))
    val (bits, k) = existing.shape
    val spark = admitted.sparkSession
    import spark.implicits._
    // the expensive distributed pass runs OUTSIDE the critical section —
    // only the fold-into-base + rename is serialized
    val partial = admitted
      .select(xxhash64(sha2(col(textCol), 256)).as("hx")).as[Long]
      .rdd.treeAggregate(graft.format.KeyBloom(bits, k))(
        (b, h) => { b.addHash(h); b }, (a, b) => a.union(b))
    // Serialized read-merge-write: two concurrent folds must not both
    // merge into the SAME base and have the second swap discard the
    // first's bits — lost bits are false NEGATIVES, which would break
    // [[bloomIncrementalDedup]]'s "negatives are proven new" invariant.
    // The cross-process lock and the publish ride the FileIO seams
    // (flock + atomic rename locally; conditional-PUT lease + whole-
    // object PUT under object-store semantics); the JVM-wide monitor
    // serializes threads within one driver.
    val lockPath = p.resolveSibling(p.getFileName.toString + ".lock")
    AdmissionBloomWriteLock.synchronized {
      graft.meta.FileIO.impl.withFileLock(lockPath) {
        // re-read under the lock: pick up bits a concurrent fold
        // published since our first read, then merge and swap
        val base = graft.format.KeyBloom.readFrom(p).getOrElse(existing)
        require(base.shape == partial.shape,
          s"admission bloom at $path changed shape concurrently " +
            s"(${base.shape} vs ${partial.shape}) — rebuild required")
        val merged = base.union(partial)
        val tmp = p.resolveSibling(
          p.getFileName.toString + s".tmp${System.nanoTime()}")
        merged.writeTo(tmp)
        graft.meta.FileIO.impl.replaceSlot(tmp, p)
      }
    }
  }

  /** JVM-wide monitor serializing [[updateAdmissionBloom]]'s
    * read-merge-write (complements the cross-process file lock). */
  private object AdmissionBloomWriteLock

  /** EXACT incremental dedup with a bloom-prefiltered admission path:
    * same semantics and output as [[incrementalDedup]] — batch rows whose
    * content does not appear in the corpus, self-deduped — but the
    * corpus-membership test is split by the persisted admission bloom:
    *
    *   - bloom NEGATIVES are PROVEN new (no false negatives) and admit
    *     map-only — no join, no shuffle against the corpus;
    *   - bloom POSITIVES (true dups + the filter's ~1% fps) are the ONLY
    *     rows exact-verified against the corpus hash set.
    *
    * At 100 TB this is the difference between anti-joining every batch
    * against the full historical corpus and shuffling just the suspected
    * duplicates: a mostly-novel crawl batch admits at scan speed. The
    * bloom is a PREFILTER, never an oracle — results stay exactly equal
    * to [[incrementalDedup]] (spec-asserted), because positives are
    * verified and negatives are sound by construction. */
  def bloomIncrementalDedup(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, bloomPath: String): DataFrame = {
    val bloom = graft.format.KeyBloom.readFrom(java.nio.file.Paths.get(bloomPath))
      .getOrElse(throw new IllegalArgumentException(
        s"no admission bloom at $bloomPath — run buildAdmissionBloom first"))
    val spark = batch.sparkSession
    val bc = spark.sparkContext.broadcast(bloom)
    // native codegen'd probe (not a UDF): the membership test stays inside
    // whole-stage codegen — it runs once per batch row, the one per-row
    // call on this path hot enough to matter at 100 TB
    val mightContain = (c: org.apache.spark.sql.Column) =>
      graft.functions.BloomExpressions.key_bloom_might_contain(c, bc)
    val hashed = batch
      .select(col(idCol), sha2(col(textCol), 256).as("content_hash"))
      .withColumn("hx", xxhash64(col("content_hash")))
    val negatives = hashed.filter(!mightContain(col("hx"))) // proven new
    val positives = hashed.filter(mightContain(col("hx")))
    val corpusHashes = corpus
      .select(sha2(col(textCol), 256).as("content_hash")).distinct()
    val verifiedNew = positives.join(corpusHashes, Seq("content_hash"), "left_anti")
    negatives.unionByName(verifiedNew)
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_batch_copies"))
      .drop("content_hash")
  }

  /** FUZZY decontamination: training-corpus documents that are NEAR
    * duplicates (shingle Jaccard >= `threshold`) of any evaluation/
    * benchmark document — the recall-hardened complement of the exact
    * n-gram overlap in [[decontaminate]], catching eval items that were
    * lightly paraphrased or template-perturbed before leaking into the
    * corpus. Returns one row per contaminated corpus doc:
    * (doc_id, n_eval_matches, max_jaccard).
    *
    * Same banded-MinHash candidate machinery as [[minhashLshPairs]], but
    * the band join is corpus x eval (key-equality on (band, band_hash) —
    * never a cross product) and only the corpus side needs the
    * band-bucket boilerplate cap: the eval side is benchmark-sized.
    * Identical-signature pairs are additionally joined directly on the
    * full-signature hash, so exact leaks survive even when every band
    * bucket they occupy is capped. At 100 TB the eval side is broadcast-
    * small, the corpus side is one shuffle on 8-byte band keys, and
    * verification touches only candidate pairs' hashed shingle sets.
    * `mustCheck` pins known (doc_id, eval_id) pairs past the
    * probabilistic candidate stage, same contract as minhashLshPairs. */
  def fuzzyDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBandBucket: Int = 200,
      mustCheck: Option[DataFrame] = None): DataFrame = {
    val rowsPerBand = numHashes / bands
    def signed(df: DataFrame, as: String): DataFrame = df.select(
      col(idCol).as(as),
      TextOps.shingleSet(col(textCol), shingleK).as("shingles"))
      .withColumn("sig", TextOps.minhashSignature(col("shingles"), numHashes))
    val c = signed(TextOps.parallelized(corpus), "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e = signed(benchmark, "eval_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def banded(df: DataFrame, id: String): DataFrame = df.select(col(id),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    val cb = banded(c, "doc_id")
    val eb = banded(e, "eval_id")
    // Boilerplate cap on the CORPUS side only (the side that can explode):
    // a band bucket shared by more docs than maxBandBucket identifies
    // nothing and joins linearly-in-cap anyway; dropped buckets' true
    // pairs still surface through other bands or the sig-equality rescue.
    // cap as ONE window over the corpus banding instead of groupBy +
    // join-back (the minhashLshPairs shape): one shuffle, one pass over
    // cb, and the eval join reuses the window's bucket partitioning. No
    // >= 2 floor here — a singleton corpus bucket can still pair with an
    // eval row.
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_hash"))
    val bandCandidates = cb
      .withColumn("__bc", count(lit(1)).over(wBucket))
      .filter(col("__bc") <= maxBandBucket)
      .select(col("band"), col("band_hash"), col("doc_id"))
      .join(eb, Seq("band", "band_hash"))
      .select(col("doc_id"), col("eval_id"))
    // Exact-leak rescue: identical full signatures collide in EVERY band,
    // so a capped boilerplate cluster would otherwise hide them.
    val sigPairs = c.select(col("doc_id"), xxhash64(col("sig")).as("sig_h"))
      .join(e.select(col("eval_id"), xxhash64(col("sig")).as("sig_h")), Seq("sig_h"))
      .select(col("doc_id"), col("eval_id"))
    val candidates = mustCheck.foldLeft(bandCandidates.unionByName(sigPairs))(
      _ unionByName _).distinct()
    candidates
      .join(c.select(col("doc_id"),
        transform(col("shingles"), s => xxhash64(s)).as("sh_c")), Seq("doc_id"))
      .join(e.select(col("eval_id"),
        transform(col("shingles"), s => xxhash64(s)).as("sh_e")), Seq("eval_id"))
      .select(col("doc_id"), col("eval_id"),
        TextOps.jaccard(col("sh_c"), col("sh_e")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval_matches"), max(col("jaccard")).as("max_jaccard"))
  }

  /** ASYMMETRIC containment decontamination: corpus documents that
    * CONTAIN an evaluation item — |corpus ∩ eval| / |eval| over k-gram
    * shingles ≥ `threshold` — the GPT-3/Pile-style overlap check.
    * Complements [[fuzzyDecontaminate]]'s symmetric Jaccard: a long
    * training document that embeds a whole benchmark item verbatim has
    * near-zero Jaccard (the doc's own size swamps the union) but
    * containment 1.0, so Jaccard-only decontamination misses exactly the
    * worst leaks. Returns one row per contaminated corpus doc:
    * (doc_id, n_eval_contained, max_containment).
    *
    * Scale shape: the eval side is benchmark-sized — its exploded
    * (shingle-hash, eval_id, |eval|) table broadcasts; the corpus side
    * is one map-only scan whose exploded shingles drop on broadcast miss,
    * so the only shuffle is the partial-aggregated (doc, eval) hit
    * counts — proportional to actual overlap, never to the corpus. At
    * 100 TB that is a broadcast-join scan, the same shape as
    * [[decontaminate]], with the per-pair arithmetic done by counts
    * (no shingle-set materialization per pair). */
  def containmentDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val e = benchmark.select(col(idCol).as("eval_id"),
        TextOps.shingleSet(col(textCol), shingleK).as("sh"))
      .select(col("eval_id"), size(col("sh")).as("n_eval"),
        explode(transform(col("sh"), s => xxhash64(s))).as("sh_h"))
    val c = TextOps.parallelized(corpus).select(col(idCol).as("doc_id"),
      explode(transform(TextOps.shingleSet(col(textCol), shingleK),
        s => xxhash64(s))).as("sh_h"))
    c.join(broadcast(e), Seq("sh_h"))
      .groupBy(col("doc_id"), col("eval_id"), col("n_eval"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits").cast("double") / col("n_eval") >= threshold)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval_contained"),
        max(col("hits").cast("double") / col("n_eval")).as("max_containment"))
  }

  /** Cross-document duplicated-span profile (the "substring dedup" measure:
    * exact long-span duplication is the highest-value removal in training
    * corpora). For each doc: how many of its distinct `w`-token windows
    * also appear in at least one OTHER doc, and the duplicated fraction.
    *
    * Scale shape: one inverted-index shuffle on the window key with the
    * document-frequency aggregated map-side; the join back to docs is
    * key-equality. The window is hashed to 8 bytes (xxhash64) BEFORE the
    * shuffle, so the inventory exchange carries hashes, never the ~10x
    * larger window text — the d04 hashed-shingle discipline. The profile
    * counts windows, not window text, so the hash is output-invariant
    * (modulo 64-bit collisions, vanishing at any real corpus size). */
  def duplicatedSpanProfile(df0: DataFrame, idCol: String, textCol: String,
      w: Int = 10): DataFrame = {
    val df = TextOps.parallelized(df0)
    val counts = df.select(col(idCol).as("doc_id"),
      size(TextOps.shingleSet(col(textCol), w)).as("n_windows"))
    val windows = df.select(col(idCol).as("doc_id"),
      explode(transform(TextOps.shingleSet(col(textCol), w),
        t => xxhash64(t))).as("winh"))
    val shared = windows.groupBy(col("winh"))
      .agg(countDistinct(col("doc_id")).as("df_count"))
      .filter(col("df_count") >= 2)
      .select(col("winh"))
    val dups = windows.join(shared, Seq("winh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_windows"))
    counts.join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("n_dup_windows"), lit(0L)) /
          greatest(col("n_windows"), lit(1)), 4).as("dup_ratio"))
  }

  /** ExactSubstr duplicate-span REMOVAL (Lee et al. 2022, arXiv:2107.06499
    * — the rewrite counterpart of [[duplicatedSpanProfile]]): every
    * w-token window appearing in >= 2 documents is "shared", and every
    * token covered by a shared window is cut from EVERY document — the
    * paper's drop-all-copies variant, which needs no global owner
    * election (they measure that keeping one copy vs none is a wash at
    * corpus scale). Returns (doc_id, n_tokens, n_removed, clean_text)
    * with surviving tokens reassembled in original order; a doc whose
    * every token is covered comes back with empty clean_text, letting the
    * caller decide whether to drop the row.
    *
    * Scale shape: the window inventory is ONE posexplode, with the
    * w-token window hashed to 8 bytes (xxhash64) BEFORE the shuffle —
    * the exchange, the shared-window aggregate and the semi-join all
    * carry hashes, never window text (~10x text amplification saved;
    * reassembly needs only the token array, which never leaves its row).
    * Shared windows come from a key-equality groupBy; covered starts
    * join back hits-proportionally (left_semi) and collapse per doc into
    * a list bounded by doc length; the rewrite is per-row lambda work.
    * No quadratic stage, no driver collect. */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      w: Int = 10): DataFrame = {
    val toks = TextOps.parallelized(df).select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    // positional windows — wordShingles' exact formula hashed to 8 bytes,
    // plus the 1-based start offset (short docs = one whole-text window)
    val windows = toks.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(1), greatest(size(col("toks")) - lit(w - 1), lit(1))),
        i => xxhash64(concat_ws(" ", slice(col("toks"), i, lit(w))))))
        .as(Seq("off", "winh")))
    val shared = windows.groupBy(col("winh"))
      .agg(countDistinct(col("doc_id")).as("df_count"))
      .filter(col("df_count") >= 2).select(col("winh"))
    val starts = windows.join(shared, Seq("winh"), "left_semi")
      .select(col("doc_id"), (col("off") + 1).as("s"))
      .groupBy("doc_id").agg(sort_array(collect_list(col("s"))).as("starts"))
    toks.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("toks")).as("n_tokens"), col("toks"),
        coalesce(col("starts"), array().cast("array<int>")).as("starts"))
      .select(col("doc_id"), col("n_tokens"), col("toks"),
        filter(sequence(lit(1), col("n_tokens")),
          p => !exists(col("starts"), s => s <= p && p < s + lit(w)))
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).as("n_removed"),
        concat_ws(" ", transform(col("kept"),
          p => element_at(col("toks"), p))).as("clean_text"))
  }

  /** ExactSubstr span removal, KEEP-ONE-COPY variant (Lee et al. 2022's
    * primary formulation): every w-token window shared across >= 2 docs
    * elects exactly ONE owner occurrence — the lexicographically smallest
    * (doc_id, start) — and only NON-owner occurrences are cut, so the
    * corpus retains one copy of common boilerplate instead of losing it
    * everywhere ([[removeDuplicateSpans]] is the drop-all twin). A token
    * survives if it is uncovered, or covered by at least one OWNED
    * occurrence (an owned span shields its tokens from overlapping
    * non-owned spans — the deterministic tie-break any engine replays).
    *
    * Scale shape: identical to the drop-all variant — 8-byte hashed
    * window keys through every exchange (inventory, owners aggregate,
    * ownership join), never window text — plus one more key-equality
    * aggregate (per-window min (doc, start) — map-side combinable) and a
    * second hits-proportional start list per doc. Election is min(), not
    * a window rank, so no per-window sort. */
  def removeDuplicateSpansKeepOne(df: DataFrame, idCol: String,
      textCol: String, w: Int = 10): DataFrame = {
    val toks = TextOps.parallelized(df).select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val windows = toks.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(1), greatest(size(col("toks")) - lit(w - 1), lit(1))),
        i => xxhash64(concat_ws(" ", slice(col("toks"), i, lit(w))))))
        .as(Seq("off", "winh")))
      .select(col("doc_id"), (col("off") + 1).as("s"), col("winh"))
    val shared = windows.groupBy(col("winh"))
      .agg(countDistinct(col("doc_id")).as("df_count"))
      .filter(col("df_count") >= 2).select(col("winh"))
    val occ = windows.join(shared, Seq("winh"), "left_semi")
    // one owner occurrence per shared window: lexicographic min (doc, s)
    val owners = occ.groupBy(col("winh"))
      .agg(min(struct(col("doc_id"), col("s"))).as("o"))
    val flagged = occ.join(owners, Seq("winh"))
      .select(col("doc_id"), col("s"),
        (col("o.doc_id") === col("doc_id") && col("o.s") === col("s"))
          .as("owned"))
    val perDoc = flagged.groupBy("doc_id")
      .agg(
        sort_array(collect_list(when(!col("owned"), col("s")))).as("cuts"),
        sort_array(collect_list(when(col("owned"), col("s")))).as("keeps"))
    toks.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("toks")).as("n_tokens"), col("toks"),
        coalesce(col("cuts"), array().cast("array<int>")).as("cuts"),
        coalesce(col("keeps"), array().cast("array<int>")).as("keeps"))
      .select(col("doc_id"), col("n_tokens"), col("toks"),
        filter(sequence(lit(1), col("n_tokens")),
          p => !exists(col("cuts"), s => s <= p && p < s + lit(w)) ||
            exists(col("keeps"), s => s <= p && p < s + lit(w)))
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).as("n_removed"),
        concat_ws(" ", transform(col("kept"),
          p => element_at(col("toks"), p))).as("clean_text"))
  }

  /** Cross-document boilerplate line removal (the CCNet/RefinedWeb cleaning
    * step): a line that appears in at least `minCount` docs — and in at
    * least (numerator/denominator) of the docs — of the same `groupCol`
    * (domain/source) is boilerplate (headers, footers, cookie banners,
    * nav text) and is dropped from every doc; remaining lines are
    * reassembled in original order.
    *
    * The share threshold is integer arithmetic (`ld * denominator >=
    * gd * numerator`), never a float compare, so any engine computes the
    * same cut. Returns (doc_id, n_lines_kept, clean_text); docs whose
    * every line is boilerplate drop out (nothing left to emit).
    *
    * Scale shape: the same 8-byte hash discipline as the span-removal
    * family ([[removeDuplicateSpans]]) — every line is xxhash64-hashed
    * BEFORE its first exchange, so document-frequency counting and the
    * anti-join shuffle (group, line-hash, position) keys, never line
    * text; reassembly joins the kept POSITIONS back to the original row
    * on doc id (the per-doc line array never leaves its row) and
    * re-reads the text there. Nothing is quadratic; hash equality
    * stands in for line equality (the d13/d26 contract — a 64-bit
    * within-group collision mislabels one line, the accepted trade at
    * corpus scale). */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, numerator: Int = 1, denominator: Int = 2,
      minCount: Int = 2): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"), col(groupCol).as("grp"),
      split(col(textCol), "\n").as("ls"))
    // hash each line in place, then explode: only (grp, 8-byte lh, pos)
    // ever reaches an exchange
    val lines = docs.select(col("doc_id"), col("grp"),
      posexplode(transform(col("ls"), l => xxhash64(l)))
        .as(Seq("pos", "lh")))
    val groupDocs = df.groupBy(col(groupCol).as("grp"))
      .agg(countDistinct(col(idCol)).as("gd"))
    // A line repeated WITHIN one doc counts once: distinct doc frequency.
    val boiler = lines.groupBy("grp", "lh")
      .agg(countDistinct(col("doc_id")).as("ld"))
      .join(groupDocs, Seq("grp"))
      .filter(col("ld") >= minCount &&
        col("ld") * denominator >= col("gd") * numerator)
      .select("grp", "lh")
    val kept = lines.join(boiler, Seq("grp", "lh"), "left_anti")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("keep"))
    docs.join(kept, Seq("doc_id"))
      .select(col("doc_id"), size(col("keep")).cast("bigint").as("n_lines_kept"),
        concat_ws("\n", transform(col("keep"),
          p => element_at(col("ls"), p + 1))).as("clean_text"))
  }

  /** SimHash near-duplicate pairs: 64-bit signature, banded into four
    * 16-bit chunks (any pair within Hamming distance 3 shares at least one
    * exact chunk — pigeonhole), verified by true Hamming distance. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val withSig = df.select(col(idCol).as("doc_id"),
      TextOps.simhash64(TextOps.tokens(col(textCol))).as("sig"))
    val banded = withSig.select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("sig"), b * 16).bitwiseAND(lit(0xffffL)))))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // both join branches

    val a = banded.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        TextOps.hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** N-gram Jaccard pairs via inverted-index blocking: explode shingles,
    * self-join on shingle (the inverted index), count shared shingles per
    * pair, and compute exact Jaccard from |A∩B| / (|A|+|B|-|A∩B|) without
    * re-joining the shingle arrays. Pairs must share >= minShared shingles
    * to enter verification (prunes the long tail of 1-shingle collisions).
    */
  /** Hashed shingle sets: 8-byte tokens instead of n-gram strings, so the
    * inverted index joins on longs and verify joins ship long arrays. */
  private def hashedShingleSets(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int): DataFrame =
    TextOps.parallelized(df).select(col(idCol).as("doc_id"),
      transform(TextOps.shingleSet(col(textCol), shingleK), s => xxhash64(s)).as("shingles"))
      .withColumn("set_size", size(col("shingles")))

  /** Candidate (doc_a, doc_b) pairs from the df-capped inverted index —
    * the shared first stage of Jaccard and edit-distance verification.
    * Document-frequency cap: shingles occurring in > maxDocFreq docs are
    * dropped from CANDIDATE GENERATION only (a shingle shared by everyone
    * identifies no one, but its postings join quadratically); callers'
    * verification stages are immune to the cap by construction. */
  private def ngramCandidates(sets: DataFrame, minShared: Int,
      maxDocFreq: Int): DataFrame = {
    val inverted = sets.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    // df-cap as ONE window over the inverted index instead of a
    // groupBy + join-back (guide §2.4): shingles are distinct per doc
    // (shingleSet), so count-over-partition IS the doc frequency; one
    // shuffle replaces the count shuffle + the postings join, the
    // exploded index is built once instead of once per reference, and
    // the self-join below reuses the window's hash partitioning on the
    // shingle key — no further exchange on either side.
    val wSh = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val postings = inverted
      .withColumn("__df", count(lit(1)).over(wSh))
      .filter(col("__df") <= maxDocFreq && col("__df") >= 2)
      .select(col("shingle"), col("doc_id"))
    val a = postings.select(col("shingle"), col("doc_id").as("doc_a"))
    val bb = postings.select(col("shingle"), col("doc_id").as("doc_b"))
    a.join(bb, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("doc_a"), col("doc_b"))
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, minShared: Int = 3, threshold: Double = 0.6,
      maxDocFreq: Int = 100): DataFrame = {
    // Shingles are hashed to 8-byte tokens up front: the inverted index
    // explodes and joins on longs instead of n-gram strings, and the
    // full-set verify join ships long arrays — same exact Jaccard
    // (cardinalities survive hashing; collision odds 2^-64 per pair) at a
    // fraction of the shuffle bytes.
    val sets = hashedShingleSets(df, idCol, textCol, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = ngramCandidates(sets, minShared, maxDocFreq)
    // Exact verify on full sets (immune to the candidate-stage cap).
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"),
        col("set_size").as("size_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"),
        col("set_size").as("size_b")), Seq("doc_b"))
      .withColumn("jaccard", TextOps.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Scale-aware per-band hyperplane count for [[embeddingNearDupPairs]]:
    * enough sign bits that a uniformly-bucketed corpus of `n` vectors lands
    * ~`targetBucket` per band bucket (2^bits ≈ n / targetBucket). Floor 8
    * (the historical default), ceiling 15 so four bands still fit a
    * non-negative Long (4×15 = 60 < 63). */
  def lshBitsFor(n: Long, targetBucket: Int = 64): Int = {
    val buckets = math.max(1L, n / math.max(1, targetBucket))
    val needed = 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1) // ceil(log2)
    math.min(15, math.max(8, needed))
  }

  /** Embedding near-duplicate pairs: BANDED sign-LSH candidate join + exact
    * cosine verify — the same capped-band shape as [[minhashLshPairs]], so
    * no bucket ever self-joins uncapped.
    *
    * One `numBands * bits`-bit signature is computed per vector (`bits`
    * deterministic ±1 hyperplanes per band, components from xxhash64) and
    * sliced into `numBands` band keys; an equality join per band generates
    * candidates. `bits <= 0` picks the width from corpus size
    * ([[lshBitsFor]]) so bucket populations stay ~constant as the corpus
    * grows — at 100 TB the candidate volume tracks near-dup density, not
    * n²/2^bits.
    *
    * Degenerate buckets (zero-vector pile-ups, quantized embeddings) are
    * capped at `maxBucket` docs per band bucket — dropped from candidate
    * generation only, since genuinely-near vectors that differ still
    * collide in other bands. The cap's blind spot — an identical-DIRECTION
    * cluster larger than the cap, which is over-cap in every band — is
    * covered by identical-full-signature star pairs (min-id representative
    * ↔ each member): positive scaling preserves every hyperplane sign, so
    * such clusters share the full signature exactly, and the star is linear
    * in cluster size where the clique is quadratic. Sub-cap clusters' stars
    * are a subset of the band clique, absorbed by the distinct(). */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      bits: Int = 0, threshold: Double = 0.9, numBands: Int = 4,
      maxBucket: Int = 200): DataFrame = {
    val bpb = if (bits > 0) bits else lshBitsFor(df.count())
    require(bpb * numBands <= 62, s"signature too wide: $numBands bands x $bpb bits")
    val bandMask = (1L << bpb) - 1
    // NO parallelized floor here (unlike the MinHash paths): the sign-LSH
    // signature over a short float vector is far cheaper per row than
    // MinHash-over-shingles, so the floor's round-robin exchange costs
    // more than the parallelism buys — the r18 driver measured it as a
    // net −18% on d05 (the same trade measured and reverted on the light
    // tokenize paths d03/t18/t19/d27).
    val withSig = df
      .select(col(idCol).as("vid"), col(vecCol).as("vec"))
      .withColumn("sig", SimilarityOps.signLshSignature(col("vec"), bpb * numBands))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // bands + stars + both verify branches
    val banded = withSig.select(col("vid"),
      posexplode(transform(sequence(lit(0), lit(numBands - 1)),
        b => call_function("shiftrightunsigned", col("sig"), b * lit(bpb))
          .bitwiseAND(lit(bandMask)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Per-band bucket cap, exactly as in minhashLshPairs: singleton buckets
    // can never pair (pruned pre-join); over-cap buckets join quadratically
    // while identifying mostly noise (prune, recall via other bands + stars).
    // Same one-window shapes as minhashLshPairs (count per bucket / rep per
    // signature over a window instead of groupBy + join-back): one shuffle
    // each, and the self-join reuses the window's partitioning.
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_sig"))
    val pruned = banded
      .withColumn("__bc", count(lit(1)).over(wBucket))
      .filter(col("__bc") >= 2 && col("__bc") <= maxBucket)
      .select(col("band"), col("band_sig"), col("vid"))
    val a = pruned.select(col("band"), col("band_sig"), col("vid").as("id_a"))
    val b = pruned.select(col("band"), col("band_sig"), col("vid").as("id_b"))
    val bandCandidates = a.join(b, Seq("band", "band_sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val sigKeyed = withSig.select(col("vid"), col("sig"))
    val wSig = org.apache.spark.sql.expressions.Window.partitionBy(col("sig"))
    val sigStars = sigKeyed
      .withColumn("__rep", min(col("vid")).over(wSig))
      .withColumn("__n", count(lit(1)).over(wSig))
      .filter(col("__n") >= 2 && col("vid") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("vid").as("id_b"))
    bandCandidates.unionByName(sigStars).distinct()
      .join(withSig.select(col("vid").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(withSig.select(col("vid").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        SimilarityOps.cosine(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC dedup —
    * k-means-cluster the embedding space, then drop every document with a
    * sufficiently-similar same-cluster twin. Clustering is what makes the
    * quadratic step local: candidate pairs form only WITHIN a cluster (a
    * key-equality shuffle on the cluster id), never across the corpus, and
    * k grows with corpus size so per-cluster populations stay bounded —
    * the paper's recipe, and the 100 TB shape. Assignment reuses the IVF
    * convention ([[SimilarityOps.trainIvfCentroids]]): deterministic seed
    * centroids (id < k), optional Lloyd refinement, map-only `greatest()`
    * over broadcast centroid literals — no join, no shuffle to classify.
    *
    * Returns one row per input — (id, cluster, kept) — with kept = false
    * iff a same-cluster neighbor with a SMALLER id has cosine >= threshold.
    * Keep-the-earliest is a deterministic single-representative rule
    * (reproducible on any engine/partitioning); the paper's keep-farthest-
    * from-centroid variant is the same plan with a different tiebreak. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      kCentroids: Int = 8, threshold: Double = 0.95,
      iterations: Int = 0): DataFrame = {
    val cents = SimilarityOps.trainIvfCentroids(df, idCol, vecCol, kCentroids, iterations)
    val scored = cents.map { case (cid, cv) =>
      struct(SimilarityOps.cosine(col("vec"), typedlit(cv)).as("cos"),
        lit(cid).as("cid"))
    }
    val assigned = df.select(col(idCol).as("vid"), col(vecCol).as("vec"))
      .withColumn("cluster", greatest(scored: _*).getField("cid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // both join branches
    val earlier = assigned
      .select(col("cluster"), col("vid").as("vid_a"), col("vec").as("vec_a"))
    val dropped = assigned.join(earlier, Seq("cluster"))
      .filter(col("vid_a") < col("vid") &&
        SimilarityOps.cosine(col("vec_a"), col("vec")) >= threshold)
      .select(col("vid")).distinct()
      .withColumn("kept", lit(false))
    assigned.join(dropped, Seq("vid"), "left_outer")
      .select(col("vid").as(idCol), col("cluster"),
        coalesce(col("kept"), lit(true)).as("kept"))
  }
}
