package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.meta.CollectionMeta

/** Vector similarity search over an `Array[Float]` embedding column.
  *
  * All math happens in double precision through codegen'd higher-order
  * functions (`zip_with`/`aggregate`) — no UDFs, no MLlib dependency, no
  * driver-side loops. The brute-force path is the exactness baseline; the
  * LSH-bucketed path is the 100 TB shape (probe only matching buckets).
  */
object SimilarityOps {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Built-in-composed cosine (reference implementation; allocates an
    * intermediate array per row). Kept for cross-checking the native
    * expression — identical IEEE operation order, so results match
    * bit-for-bit on non-degenerate vectors. */
  def cosineComposed(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine similarity — fused native Catalyst expression with whole-stage
    * codegen ([[graft.functions.CosineSimilarity]]). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosine_similarity(a, b)

  /** HYBRID RETRIEVAL top-k: a BM25 lexical ranking and a cosine vector
    * ranking fused by Reciprocal Rank Fusion (RRF — Cormack, Clarke &
    * Buettcher, SIGIR 2009; the zero-tuning hybrid-search combiner every
    * RAG / retrieval-corpus pipeline reaches for when neither lexical
    * nor dense retrieval alone covers the query mix): each modality
    * contributes 1/(kRrf + rank) over its top-`poolN` pool; the fused
    * top-`k` returns as (doc_id, rrf).
    *
    * Scale shape: the query's terms BROADCAST into the postings join, so
    * beyond the one tf/dl/df corpus pass (precomputed once per corpus in
    * a real deployment) the lexical side is postings-proportional; the
    * vector side is a map-only cosine + TakeOrderedAndProject top-N (the
    * [[bruteForceTopK]] plan — no corpus shuffle, swap in the IVF/LSH
    * variants for a 100 TB corpus); pools are <= poolN rows, so the
    * ranking windows and the fusion's full outer join run on trivial
    * frames. DETERMINISM: per-term BM25 scores round to 4dp and sum as
    * DECIMAL (associative — a cross-engine float sum is order-dependent),
    * cosine rounds to 3dp, and every rank breaks ties by id, so the
    * ranking is reproducible bit-for-bit across engines. */
  def hybridRrfTopK(docs: DataFrame, vecs: DataFrame, idCol: String,
      textCol: String, vecIdCol: String, vecCol: String,
      queryTerms: Seq[String], queryVec: Seq[Float], k: Int = 10,
      poolN: Int = 50, kRrf: Int = 60,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col(idCol).as("doc_id"),
        filter(split(lower(col(textCol)), " "), t => length(t) > 0).as("ts"))
      .filter(size(col("ts")) > 0)
    // one corpus pass feeds tf, dl and df — persist it (the d04
    // discipline), release after the bounded pools materialize
    val tf = toks.select(col("doc_id"), explode(col("ts")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val corpus = dl.agg(count(lit(1)).as("n_docs"),
        avg(col("dl")).as("avgdl"))
      val termScore =
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
      val lexPool = tf
        .join(broadcast(queryTerms.toDF("term")), Seq("term"))
        .join(dfreq, Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(corpus))
        .groupBy(col("doc_id"))
        .agg(sum(round(termScore, 4).cast("decimal(18,4)")).as("s"))
        .orderBy(col("s").desc, col("doc_id")).limit(poolN)
      val lexRank = lexPool.withColumn("lr", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("s").desc, col("doc_id"))))
        .select(col("doc_id"), col("lr"))
      val vecPool = vecs.select(col(vecIdCol).as("doc_id"),
          round(cosine(col(vecCol), typedlit(queryVec)), 3).as("c"))
        .orderBy(col("c").desc, col("doc_id")).limit(poolN)
      val vecRank = vecPool.withColumn("vr", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("doc_id"))))
        .select(col("doc_id"), col("vr"))
      lexRank.join(vecRank, Seq("doc_id"), "full")
        .select(col("doc_id"),
          round(coalesce(lit(1.0) / (lit(kRrf) + col("lr")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(kRrf) + col("vr")), lit(0.0)), 6)
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(k)
        .localCheckpoint()
    } finally tf.unpersist()
  }

  /** Exact top-k by cosine against one query vector (broadcast as a
    * literal): per-partition heaps via TakeOrderedAndProject — no full sort,
    * no shuffle of the corpus. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = typedlit(query)
    df.select(col(idCol),
        cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Sign-LSH signature: `bits` hyperplanes with deterministic ±1
    * components derived from xxhash64(bit*1024+dim); bit b is the sign of
    * the projection. Same-direction vectors share signatures exactly. */
  def signLshSignature(vec: Column, bits: Int): Column =
    aggregate(
      sequence(lit(0), lit(bits - 1)),
      lit(0L),
      (acc, b) => acc bitwiseOR
        when(
          aggregate(
            sequence(lit(1), size(vec)),
            lit(0.0),
            (s, j) => s + element_at(vec, j).cast("double") *
              when(pmod(xxhash64(b * 1024 + j), lit(2)) === 0, 1.0).otherwise(-1.0)
          ) >= 0.0,
          call_function("shiftleft", lit(1L), b)).otherwise(0L))

  /** Approximate top-k: probe the query's LSH bucket plus all buckets at
    * Hamming distance 1 (multi-probe), rank probed candidates by exact
    * cosine. At scale, bucketing bounds each query to a tiny corpus slice;
    * recall is tunable via `bits` and the probe radius.
    *
    * This is the ON-THE-FLY variant: the signature is recomputed over `df`
    * per call, i.e. each query still scans the corpus. It exists for ad-hoc
    * frames; repeated queries should build a persistent index once with
    * [[buildAnnIndex]] and probe it with [[annTopK]]. */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, bits: Int = 8): DataFrame = {
    val withSig = df.withColumn("__bucket", signLshSignature(col(vecCol), bits))
    val probes = probeSet(df.sparkSession, query, bits)
    withSig.filter(col("__bucket").isin(probes: _*))
      .select(col(idCol), cosine(col(vecCol), typedlit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** The multi-probe bucket set for one query vector: its signature plus all
    * signatures at Hamming distance 1. Driver-side cost is one 1-row job —
    * the corpus is never touched. */
  def probeSet(spark: org.apache.spark.sql.SparkSession, query: Seq[Float],
      bits: Int): Seq[Long] = {
    val qSig = spark.range(1).select(typedlit(query).as("q"))
      .select(signLshSignature(col("q"), bits).as("sig")).head().getLong(0)
    (qSig +: (0 until bits).map(b => qSig ^ (1L << b))).distinct
  }

  /** Build a PERSISTENT ANN index: materialize the sign-LSH signature as a
    * `bucket` column at ingest and cluster segments by bucket range, so the
    * manifest's per-segment min/max stats give every future query free
    * segment pruning — the signature is computed once per corpus, not once
    * per query. At 100 TB this is the difference between an ANN lookup
    * touching a handful of segments and a full corpus scan. */
  def buildAnnIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      df: DataFrame, idCol: String, vecCol: String,
      bits: Int = 8, numSegments: Int = 16): graft.api.Collection = {
    val indexed = df
      .select(col(idCol), col(vecCol))
      .withColumn("bucket", signLshSignature(col(vecCol), bits))
      // range-cluster on bucket: each segment covers a narrow signature
      // range, making the manifest min/max stats selective for bucket probes
      .repartitionByRange(numSegments, col("bucket"))
    graft.api.Collection.create(spark, path, indexed)
  }

  /** Approximate top-k over a [[buildAnnIndex]] collection: the `IN (probes)`
    * predicate is pushed into the hadro scan, where segment min/max stats
    * drop every segment whose bucket range misses all probes — only the
    * surviving slice is decoded and ranked by exact cosine. */
  def annTopK(index: graft.api.Collection, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, bits: Int = 8): DataFrame = {
    val scan = index.scan()
    val probes = probeSet(scan.sparkSession, query, bits)
    scan.filter(col("bucket").isin(probes: _*))
      .select(col(idCol), cosine(col(vecCol), typedlit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  // ------------------------------------------------------------------ IVF

  /** Build an IVF (inverted-file) ANN index: `kCentroids` deterministic
    * seed centroids (the vectors with id < kCentroids), every vector
    * assigned to its nearest centroid by exact cosine, the assignment
    * materialized as a `cluster` column and segments range-clustered by it.
    *
    * The assignment is a PER-ROW `greatest()` over centroid literals — the
    * centroids are broadcast inside the expression, so classification needs
    * no join and no shuffle; the only shuffle is the clustering
    * repartition. Ties break to the higher centroid id (struct ordering).
    * At 100 TB: centroids are O(k) driver-side, assignment is map-only,
    * and a query decodes only the probed clusters' segments. */
  def buildIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      df: DataFrame, idCol: String, vecCol: String,
      kCentroids: Int = 8, numSegments: Int = 8,
      iterations: Int = 0): graft.api.Collection = {
    val vecs = df.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    val cents = trainIvfCentroids(df, idCol, vecCol, kCentroids, iterations)
    val scored = cents.map { case (cid, cv) =>
      struct(cosine(col("vec"), typedlit(cv)).as("cos"), lit(cid).as("cid"))
    }
    val assigned = vecs.withColumn("cluster",
      greatest(scored.toSeq: _*).getField("cid"))
    val collection = graft.api.Collection.create(spark, path,
      assigned.repartitionByRange(numSegments, col("cluster")))
    // Persist the (possibly trained) centroids next to the manifests:
    // probing must rank centroids WITHOUT touching the corpus — training
    // is build-time work, never query-time work. Truncate/compaction
    // leaves this sidecar alone (GC only touches data/bloom/koff files).
    saveCentroids(java.nio.file.Paths.get(path), cents)
    collection
  }

  private def saveCentroids(dir: java.nio.file.Path,
      cents: Seq[(Int, Seq[Float])]): Unit =
    CollectionMeta.writeSlot(dir, CollectionMeta.IvfCentroidsSlot,
      Some(cents.sortBy(_._1).map { case (cid, v) =>
        s"""{"cid":$cid,"vec":[${v.mkString(",")}]}"""
      }.mkString("[", ",", "]")))

  /** Centroids persisted by [[buildIvfIndex]], if any. */
  def loadCentroids(dir: java.nio.file.Path): Option[Seq[(Int, Seq[Float])]] =
    CollectionMeta.readJson[Seq[Map[String, Any]]](dir,
      CollectionMeta.IvfCentroidsSlot).map(_.map { m =>
      (m("cid").asInstanceOf[Number].intValue(),
        m("vec").asInstanceOf[Seq[Number]].map(_.floatValue()))
    })

  /** One Lloyd refinement pass: assign every vector to its nearest centroid
    * (map-only `greatest()` over broadcast centroid literals — no join, no
    * shuffle) and recompute each cluster's element-wise mean. Returns the
    * (cluster, pos, m, n) component frame.
    *
    * The mean is summed through DECIMAL(27,10): decimal addition is exact
    * and associative, so the result is bit-identical across partitionings
    * and runs — floating-point `sum()` would drift with partial-aggregation
    * order, making trained centroids (and therefore assignments)
    * irreproducible. The shuffle is k·dim groups of one decimal each —
    * negligible at any corpus size; everything upstream is map-side. */
  def lloydStep(vecs: DataFrame, cents: Seq[(Int, Seq[Float])]): DataFrame = {
    val scored = cents.map { case (cid, cv) =>
      struct(cosine(col("vec"), typedlit(cv)).as("cos"), lit(cid).as("cid"))
    }
    vecs.withColumn("cluster", greatest(scored: _*).getField("cid"))
      .select(col("cluster"), posexplode(col("vec")))
      .groupBy(col("cluster"), col("pos"))
      .agg(
        (sum(col("col").cast("double").cast("decimal(27,10)")).cast("double") /
          count(lit(1))).cast("float").as("m"),
        count(lit(1)).as("n"))
  }

  /** Train IVF centroids: deterministic seeds (vectors with id < k) refined
    * by `iterations` Lloyd passes. Each pass is one Spark job collecting
    * k·dim component rows — the corpus is never collected. Empty clusters
    * keep their previous centroid (standard Lloyd fallback). */
  def trainIvfCentroids(df: DataFrame, idCol: String, vecCol: String,
      kCentroids: Int, iterations: Int): Seq[(Int, Seq[Float])] = {
    val vecs = df.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    var cents: Seq[(Int, Seq[Float])] = vecs.filter(col("vid") < kCentroids)
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Float](1))).sortBy(_._1).toSeq
    require(cents.length >= 2, s"need >= 2 centroids, got ${cents.length}")
    (1 to iterations).foreach { _ =>
      val comps = lloydStep(vecs, cents).collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getFloat(2)).toSeq
        }
      cents = cents.map { case (cid, old) => (cid, comps.getOrElse(cid, old)) }
    }
    cents
  }

  /** IVF probe: rank the centroids against the query (k-row job), take the
    * `nprobe` nearest clusters, and push `cluster IN (...)` into the scan —
    * segment stats drop every non-probed cluster's segments; exact cosine
    * ranks only the surviving vectors. */
  def ivfTopK(index: graft.api.Collection, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, kCentroids: Int = 8, nprobe: Int = 2): DataFrame = {
    val scan = index.scan()
    val probeCids: Seq[Long] =
      loadCentroids(java.nio.file.Paths.get(index.path)) match {
        case Some(cents) =>
          // Persisted (seed or trained) centroids: probe ranking is a
          // driver-side loop over k literals — the corpus is never touched
          // to decide which clusters to read.
          cents.map { case (cid, cv) => (cid.toLong, cosineLocal(cv, query)) }
            .sortBy { case (cid, cos) => (-cos, -cid) }
            .take(nprobe).map(_._1)
        case None =>
          // Legacy index without the sidecar: seed centroids ARE rows of
          // the collection (vid < k) — one k-row pruned job ranks them.
          scan.filter(col("vid") < kCentroids)
            .select(col("vid"), cosine(col("vec"), typedlit(query)).as("cos"))
            .collect()
            .sortBy(r => (-r.getDouble(1), -r.getLong(0))) // cos desc, cid desc
            .take(nprobe)
            .map(_.getLong(0)).toSeq
      }
    scan.filter(col("cluster").isin(probeCids: _*))
      .select(col("vid").as(idCol), cosine(col("vec"), typedlit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Batch-query IVF: top-k for a whole DataFrame of query vectors at
    * once — the SERVING shape (a query batch is data, not a driver loop).
    *
    * Probe assignment is a broadcast join of the queries against the
    * tiny persisted centroid table (k·dim floats) + a per-query window;
    * the only driver-side collect is the DISTINCT probed cluster ids
    * (bounded by kCentroids, never by corpus or batch size), pushed as an
    * IN filter so manifest stats still prune unprobed segments; candidate
    * scoring is a key-equality join on the cluster id. Everything scales
    * with |batch| × probed corpus fraction.
    *
    * `index` must be a [[buildIvfIndex]] collection — its canonical
    * (vid, vec, cluster) schema is assumed, same as [[ivfTopK]]; `idCol`
    * only names the id column in the RESULT. */
  def ivfTopKBatch(index: graft.api.Collection, idCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      nprobe: Int = 2): DataFrame = {
    val ss = queries.sparkSession
    import ss.implicits._
    val cents = loadCentroids(java.nio.file.Paths.get(index.path))
      .getOrElse(throw new IllegalStateException(
        s"ivfTopKBatch requires a persisted centroid sidecar at ${index.path}"))
    val centDf = cents.map { case (cid, cv) => (cid.toLong, cv) }
      .toDF("cid", "cv")
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("probe_cos").desc, col("cid").desc)
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("probe_cos", cosine(col("qvec"), col("cv")))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= nprobe)
      .select(col("qid"), col("qvec"), col("cid"))
    val probed = probes.select(col("cid")).distinct().as[Long].collect().toSeq
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col(idCol))
    index.scan().filter(col("cluster").isin(probed: _*))
      .join(broadcast(probes), col("cluster") === col("cid"))
      .select(col("qid"), col("vid").as(idCol),
        cosine(col("vec"), col("qvec")).as("cosine"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select(col("qid"), col(idCol), col("cosine"), col("rk"))
  }

  // ------------------------------------------------------------------- PQ

  /** Train a PQ codebook: deterministic seed sub-centroids (the sub-vectors
    * of the vectors with id < k — the same seed rule IVF uses) refined by
    * `iterations` per-subspace Lloyd passes. Each pass encodes the corpus
    * against the current codebook with the NATIVE map-only encoder and
    * recomputes every (subspace, code) cell as the element-wise mean of its
    * assigned sub-vectors, summed through DECIMAL(27,10) — the same exact,
    * order-independent arithmetic [[lloydStep]] uses, so trained codebooks
    * are bit-identical across partitionings and runs (and the DuckDB
    * oracle re-derives them). Cells no vector maps to keep their previous
    * sub-centroid (standard Lloyd fallback). One job per pass, collecting
    * m·k·sub component rows — the corpus is never collected. */
  def trainPqCodebook(df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iterations: Int): Seq[Seq[Seq[Float]]] = {
    val seeds = df.filter(col(idCol) < k).select(col(idCol), col(vecCol))
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Float](1))).sortBy(_._1).toSeq
    require(seeds.length == k, s"need the $k seed vectors (id < $k), got ${seeds.length}")
    val dim = seeds.head._2.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    var codebook: Seq[Seq[Seq[Float]]] =
      (0 until m).map(j => seeds.map(_._2.slice(j * sub, (j + 1) * sub)))
    (1 to iterations).foreach { _ =>
      val cb = codebook
      val comps = df
        .select(
          graft.functions.VectorExpressions.pq_encode(col(vecCol), cb).as("codes"),
          posexplode(col(vecCol)))
        .select(
          (col("pos") / lit(sub)).cast("int").as("j"),
          pmod(col("pos"), lit(sub)).as("p"),
          col("col").as("v"),
          col("codes"))
        .select(col("j"), element_at(col("codes"), col("j") + 1).as("code"),
          col("p"), col("v"))
        .groupBy("j", "code", "p")
        .agg((sum(col("v").cast("double").cast("decimal(27,10)")).cast("double") /
          count(lit(1))).cast("float").as("m"))
        .collect()
      val trained: Map[(Int, Int), Seq[Float]] = comps
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (jc, rows) =>
          jc -> rows.sortBy(_.getInt(2)).map(_.getFloat(3)).toSeq
        }
      codebook = (0 until m).map(j =>
        (0 until k).map(c => trained.getOrElse((j, c), cb(j)(c))))
    }
    codebook
  }

  /** Product quantization: split the vector space into `m` subspaces and
    * quantize each against `k` Lloyd-trained sub-centroids
    * ([[trainPqCodebook]]; `iterations = 0` keeps the raw seeds). A
    * 64-float vector (256 B) becomes m=8 small codes — at 100 TB the
    * difference between the vector corpus fitting in cluster memory or
    * not, and the standard companion to an IVF index (IVF prunes WHICH
    * vectors to look at, PQ shrinks WHAT is read per vector). Trained
    * codebooks are what recall hinges on at scale: quantization error is
    * the ANN error floor.
    *
    * Encoding is a PER-ROW argmin over k broadcast sub-centroid literals
    * per subspace (struct `least`, ties to the smaller code) — map-only,
    * no join, no shuffle, and all arithmetic is a fixed-order double fold,
    * so codes are bit-identical on any engine or partitioning (the DuckDB
    * oracle re-derives them exactly, training included). */
  def buildPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      df: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16, numSegments: Int = 8,
      iterations: Int = 1): graft.api.Collection = {
    val codebook = trainPqCodebook(df, idCol, vecCol, m, k, iterations)
    val encoded = df.select(col(idCol).as("vid"),
      graft.functions.VectorExpressions.pq_encode(col(vecCol), codebook).as("codes"))
    val collection = graft.api.Collection.create(spark, path,
      encoded.repartition(numSegments))
    saveCodebook(java.nio.file.Paths.get(path), codebook)
    collection
  }

  /** Built-ins-composed PQ encoder (struct-`least` argmin over unrolled
    * folds) — the fused [[graft.functions.PqEncode]] the builds actually
    * use is asserted bit-exact against this in FunctionsSpec. The composed
    * tree is ~3000 Catalyst nodes for m=8, k=16, sub=8; codegen
    * compilation of that tree dominated the index build, which is why the
    * hot path is native. */
  def pqEncodeComposed(vec: Column, codebook: Seq[Seq[Seq[Float]]]): Column = {
    val m = codebook.length
    val k = codebook.head.length
    val sub = codebook.head.head.length
    array((0 until m).map { j =>
      val scored = (0 until k).map { c =>
        struct(sqL2Sub(vec, j * sub, codebook(j)(c)).as("d"), lit(c).as("code"))
      }
      least(scored: _*).getField("code")
    }: _*)
  }

  /** Squared L2 between `vec[offset+1 .. offset+sub]` and a centroid
    * literal, as an explicit LEFT-FOLDED sum — fixed evaluation order so
    * the value is reproducible bit-for-bit (and mirrorable in SQL). */
  private def sqL2Sub(vec: Column, offset: Int, cent: Seq[Float]): Column =
    cent.zipWithIndex.map { case (cv, i) =>
      val d = element_at(vec, offset + i + 1).cast("double") - cv.toDouble
      d * d
    }.reduce(_ + _)

  /** Approximate top-k over a [[buildPqIndex]] collection via ADC
    * (asymmetric distance computation): the query builds an m×k table of
    * exact sub-distances DRIVER-SIDE from the persisted codebook; each
    * candidate's estimated distance is then m array lookups over its
    * codes — the scan never touches a float vector. Returns
    * (idCol, est_dist) ascending. */
  def pqTopK(index: graft.api.Collection, idCol: String,
      query: Seq[Float], kResults: Int): DataFrame = {
    val codebook = loadCodebook(java.nio.file.Paths.get(index.path))
      .getOrElse(throw new IllegalStateException(
        s"no PQ codebook sidecar under ${index.path}"))
    val m = codebook.length
    val sub = codebook.head.head.length
    // table(j)(c) = squared L2 of the query's subspace j vs sub-centroid c,
    // summed in the same left-to-right order the encoder used
    val table: Seq[Seq[Double]] = (0 until m).map { j =>
      codebook(j).map { cv =>
        var i = 0; var acc = 0.0
        while (i < sub) {
          val d = query(j * sub + i).toDouble - cv(i).toDouble
          acc += d * d; i += 1
        }
        acc
      }
    }
    val est = (0 until m).map { j =>
      element_at(typedlit(table(j)), element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)
    index.scan()
      .select(col("vid").as(idCol), est.as("est_dist"))
      .orderBy(col("est_dist"), col(idCol))
      .limit(kResults)
  }

  /** IVF + PQ composed — the FAISS-IVFPQ shape and the full 100 TB ANN
    * story in one index: the coarse quantizer (IVF cluster column +
    * range-clustered segments) decides WHICH vectors a probe reads —
    * segment stats drop every non-probed cluster — and the product codes
    * decide how CHEAP each read is (m bytes and m table lookups per
    * candidate instead of a float vector and a full distance). Both the
    * centroids and the codebook persist as sidecars; probing touches
    * neither the corpus nor the original vectors. */
  def buildIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      df: DataFrame, idCol: String, vecCol: String, kCentroids: Int = 8,
      m: Int = 8, k: Int = 16, numSegments: Int = 8,
      iterations: Int = 1): graft.api.Collection = {
    val cents = trainIvfCentroids(df, idCol, vecCol, kCentroids, 0)
    val codebook = trainPqCodebook(df, idCol, vecCol, m, k, iterations)
    val scored = cents.map { case (cid, cv) =>
      struct(cosine(col(vecCol), typedlit(cv)).as("cos"), lit(cid).as("cid"))
    }
    val encoded = df.select(col(idCol).as("vid"),
      greatest(scored: _*).getField("cid").as("cluster"),
      graft.functions.VectorExpressions.pq_encode(col(vecCol), codebook).as("codes"))
    val collection = graft.api.Collection.create(spark, path,
      encoded.repartitionByRange(numSegments, col("cluster")))
    saveCentroids(java.nio.file.Paths.get(path), cents)
    saveCodebook(java.nio.file.Paths.get(path), codebook)
    collection
  }

  /** Probe a [[buildIvfPqIndex]] collection: rank centroids driver-side
    * (corpus untouched), push `cluster IN (probes)` into the scan so
    * segment stats prune non-probed clusters, then ADC-rank only the
    * surviving codes. */
  def ivfPqTopK(index: graft.api.Collection, idCol: String,
      query: Seq[Float], kResults: Int, nprobe: Int = 2): DataFrame = {
    val dir = java.nio.file.Paths.get(index.path)
    val cents = loadCentroids(dir).getOrElse(throw new IllegalStateException(
      s"no IVF centroid sidecar under ${index.path}"))
    val codebook = loadCodebook(dir).getOrElse(throw new IllegalStateException(
      s"no PQ codebook sidecar under ${index.path}"))
    val probeCids = cents.map { case (cid, cv) => (cid.toLong, cosineLocal(cv, query)) }
      .sortBy { case (cid, cos) => (-cos, -cid) }
      .take(nprobe).map(_._1)
    val m = codebook.length
    val sub = codebook.head.head.length
    val table: Seq[Seq[Double]] = (0 until m).map { j =>
      codebook(j).map { cv =>
        var i = 0; var acc = 0.0
        while (i < sub) {
          val d = query(j * sub + i).toDouble - cv(i).toDouble
          acc += d * d; i += 1
        }
        acc
      }
    }
    val est = (0 until m).map { j =>
      element_at(typedlit(table(j)), element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)
    index.scan().filter(col("cluster").isin(probeCids: _*))
      .select(col("vid").as(idCol), est.as("est_dist"))
      .orderBy(col("est_dist"), col(idCol))
      .limit(kResults)
  }

  private def saveCodebook(dir: java.nio.file.Path,
      codebook: Seq[Seq[Seq[Float]]]): Unit =
    CollectionMeta.writeSlot(dir, CollectionMeta.PqCodebookSlot,
      Some(codebook.map(js =>
        js.map(cv => cv.mkString("[", ",", "]")).mkString("[", ",", "]"))
        .mkString("[", ",", "]")))

  /** Codebook persisted by [[buildPqIndex]], if any:
    * codebook(subspace)(code) = sub-centroid vector. */
  def loadCodebook(dir: java.nio.file.Path): Option[Seq[Seq[Seq[Float]]]] =
    CollectionMeta.readJson[Seq[Seq[Seq[Double]]]](dir,
      CollectionMeta.PqCodebookSlot).map(_.map(_.map(_.map(_.toFloat))))

  /** recall@k of each labelled approximate top-k frame against the exact
    * top-k: |approx ∩ exact| / k per method, one row per method. Every
    * input is already a bounded top-k frame (≤ k rows), so the semi-joins
    * and counts are O(k) regardless of corpus size — this is the standard
    * ANN quality gauge (what IVF probe counts and PQ codebook training
    * actually buy), evaluated engine-side with no driver collects. */
  def recallAtK(exact: DataFrame, approx: Seq[(String, DataFrame)],
      idCol: String, k: Int): DataFrame = {
    val ex = exact.select(col(idCol)).limit(k)
    approx.map { case (name, df) =>
      df.select(col(idCol)).limit(k)
        .join(ex, Seq(idCol), "left_semi")
        .agg((count(lit(1)).cast("double") / k.toDouble).as("recall"))
        .select(lit(name).as("method"), col("recall"))
    }.reduce(_ unionByName _)
  }

  /** Driver-side cosine for ranking a handful of centroid literals. */
  private def cosineLocal(a: Seq[Float], b: Seq[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  // ----------------------------------------------- int8 scalar quantization

  /** Build an int8 SCALAR-QUANTIZATION index: one global (min, max) over
    * all vector components (a single tiny agg job — two scalars, exact
    * selections with no arithmetic, so any engine reproduces them), then
    * every embedding encoded to one byte per component
    * ([[graft.functions.Sq8Encode]], a fused codegen'd loop) and persisted
    * as a BINARY column with the quantizer params in a sidecar.
    *
    * The 100 TB story is bytes: the compressed corpus is 4× smaller than
    * float32, so an exhaustive quantized scan does a quarter of the I/O —
    * the standard first rung below PQ's 32×, trading less compression for
    * a simpler, near-lossless distance. Query time never reads the
    * original embeddings. */
  /** `metaCols`: filterable metadata columns carried INSIDE the index
    * rows (the filtered-ANN serving shape) — a query predicate over them
    * evaluates during the map-only coarse scan, before any join, so a
    * filtered search reads exactly what an unfiltered one reads: the
    * compressed codes. The quantizer is always trained on the FULL corpus
    * (filters change per query; codes must not). */
  def buildSqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      df: DataFrame, idCol: String, vecCol: String,
      numSegments: Int = 8, metaCols: Seq[String] = Nil): graft.api.Collection = {
    val row = df.select(
      min(array_min(col(vecCol))).cast("double"),
      max(array_max(col(vecCol))).cast("double")).head()
    val minv = row.getDouble(0)
    val scale = (row.getDouble(1) - minv) / 256.0
    require(scale > 0.0, "sq8: degenerate corpus (all components equal)")
    val codes = df.select(col(idCol).as("vid") +:
      graft.functions.VectorExpressions.sq8_encode(col(vecCol), minv, scale)
        .as("codes") +: metaCols.map(col): _*)
    val collection = graft.api.Collection.create(spark, path,
      codes.repartition(numSegments))
    saveSqParams(java.nio.file.Paths.get(path), minv, scale)
    collection
  }

  /** INCREMENTAL index refresh: append newly-ingested vectors to an
    * existing [[buildSqIndex]] collection WITHOUT a rebuild — the frozen
    * quantizer params (min, scale) from the sidecar encode the new batch,
    * one append commit publishes it, and every subsequent [[sqTopK]] /
    * [[rerankTopK]] / [[filteredRerankTopK]] sees old + new rows in the
    * same coarse scan. This is how an index tracks a growing corpus at
    * 100 TB: O(batch) work per refresh instead of O(corpus), at the cost
    * that out-of-range components CLAMP to the trained range (cells 0 /
    * 255) — the standard drift trade; re-run the full build when drift
    * accumulates (spec quantifies the clamp's bounded effect). The
    * append is atomic (manifest commit), so concurrent queries see the
    * old or the new index, never a torn one. */
  def appendSqIndex(index: graft.api.Collection, df: DataFrame,
      idCol: String, vecCol: String, metaCols: Seq[String] = Nil): graft.api.Collection = {
    val (minv, scale) = loadSqParams(java.nio.file.Paths.get(index.path))
      .getOrElse(
        throw new IllegalStateException(s"no sq8 params sidecar at ${index.path}"))
    val codes = df.select(col(idCol).as("vid") +:
      graft.functions.VectorExpressions.sq8_encode(col(vecCol), minv, scale)
        .as("codes") +: metaCols.map(col): _*)
    index.append(codes)
    index
  }

  /** Top-k over a [[buildSqIndex]] collection: decode each byte code to
    * its cell midpoint ([[graft.functions.Sq8Decode]]) and rank by exact
    * cosine against the full-precision query — asymmetric distance
    * computation over the compressed corpus only. Map-only + top-k heap;
    * no shuffle, no original-embedding read. */
  def sqTopK(index: graft.api.Collection, idCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val (minv, scale) = loadSqParams(java.nio.file.Paths.get(index.path))
      .getOrElse(
        throw new IllegalStateException(s"no sq8 params sidecar at ${index.path}"))
    val decoded = graft.functions.VectorExpressions.sq8_decode(
      col("codes"), minv, scale)
    val q = typedlit(query.map(_.toDouble))
    index.scan()
      .select(col("vid").as(idCol), cosineComposed(decoded, q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** DELETE-AWARE re-validation of index hits. ANN index sidecars are
    * decoupled from the base collection, so a base-table DELETE
    * (tombstone or deletion vector) never rewrites the index — a stale
    * hit list can return vectors whose rows are gone. This re-validates
    * a bounded candidate pool against the CURRENT base collection at
    * query time: the pool's ids (a top-`pool` frame, never the corpus —
    * same bounded-collect contract as [[mmrTopK]]) push down as an IN
    * filter on the base key column, where the hadro scan's key bloom and
    * segment min/max stats prune to only the touched segments, and the
    * scan itself already skips tombstoned and dv-deleted rows. So the
    * cost is O(candidates) index-assisted point reads — no index
    * rewrite, no full base scan, works unchanged at 100 TB.
    *
    * Returns the top `k` LIVE hits by the `cosine` column. Size the pool
    * with slack for expected delete churn: a result shorter than `k`
    * means more than `pool - k` of the pool was deleted — re-query with
    * a larger pool (or rebuild the index if churn is structural). */
  def liveTopK(candidates: DataFrame, base: graft.api.Collection,
      baseKeyCol: String, idCol: String, k: Int): DataFrame = {
    val ids = candidates.select(col(idCol)).collect().map(_.get(0)).toSeq
    // toDF(), not scan(): keyed tombstone deletes resolve in the LWW
    // view (the raw scan still carries the pre-delete record from its
    // original segment). The IN predicate is on the LWW window's own
    // partitioning key, so Catalyst pushes it beneath the window into
    // the scan — pruning is preserved. DV/CoW deletes are already gone
    // at scan level either way.
    val live = base.toDF()
      .filter(col(baseKeyCol).isin(ids: _*))
      .select(col(baseKeyCol).as(idCol))
    candidates.join(broadcast(live), Seq(idCol), "left_semi")
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** [[sqTopK]] that excludes rows DELETED from `base` since the index
    * was built or last refreshed: coarse top-`pool` over the compressed
    * codes (unchanged map-only scan), then [[liveTopK]] re-validation.
    * `pool` defaults to `max(4k, k + 16)` — enough slack that typical
    * churn still yields k live hits. The radius twin needs no wrapper:
    * [[sqRadiusSearch]] exact-verifies against the caller's corpus
    * frame, so passing the live collection scan (`base.toDF()`) already
    * excludes deleted rows there. */
  def sqTopKLive(index: graft.api.Collection, base: graft.api.Collection,
      baseKeyCol: String, idCol: String, query: Seq[Float], k: Int,
      pool: Int = 0): DataFrame = {
    val p = if (pool > 0) pool else math.max(4 * k, k + 16)
    liveTopK(sqTopK(index, idCol, query, p), base, baseKeyCol, idCol, k)
  }

  /** PHYSICAL index sweep — the maintenance complement of [[liveTopK]]:
    * rewrite the index collection keeping only rows whose base row is
    * still live, so plain [[sqTopK]]/[[rerankTopK]] reflect deletes with
    * no per-query re-validation cost. One semi-join against the live
    * base keys + one atomic overwrite commit (concurrent queries see the
    * old or the new index, never a torn one); the quantizer params
    * sidecar is untouched, so incremental [[appendSqIndex]] refreshes
    * keep composing afterwards. Run it when delete churn accumulates —
    * [[liveTopK]] covers the gap between sweeps exactly. Returns the
    * number of index rows swept away. */
  def sweepSqIndex(index: graft.api.Collection, base: graft.api.Collection,
      baseKeyCol: String): Long = {
    // Pin the rewrite to the manifest version the sweep planned against
    // (the compact() protocol): an appendSqIndex landing mid-sweep is
    // PRESERVED by the commit instead of silently erased by a plain
    // truncating overwrite — lost appends would be invisible recall loss.
    val m0 = graft.meta.CollectionMeta.currentManifest(
      java.nio.file.Paths.get(index.path))
    val snapshot = index.scanVersion(m0.version)
    val before = snapshot.count()
    val live = base.toDF().select(col(baseKeyCol).as("vid"))
    // Persist the survivor set: the index side is version-pinned but the
    // base side is LIVE, so counting and writing from separate
    // materializations could disagree (a delete landing between them
    // makes the returned sweep count lie about what was written) — and
    // the count would re-run the full semi-join. One materialization
    // serves both.
    val kept = snapshot.join(live, Seq("vid"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keptCount = kept.count() // materializes; the write reuses this cache
      kept.write.format("hadro").mode("overwrite")
        .option("hadro.compactOf", m0.version.toString)
        .option("hadro.compactOfGen", m0.generation.toString)
        .save(index.path)
      before - keptCount
    } finally kept.unpersist()
  }

  // --------------------------------------------------------- radius search

  /** RADIUS (range) search: every corpus vector with cosine ≥ `minCosine`
    * against one query — the all-neighbors dual of top-k (dedup sweeps and
    * "everything similar to this exemplar" curation pulls want a
    * threshold, not a count). Map-only: one codegen'd cosine + filter per
    * partition, no shuffle, no heap — embarrassingly parallel at any
    * corpus size. Returns (id, cosine) unordered; callers sort. */
  def radiusSearch(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], minCosine: Double): DataFrame = {
    val q = typedlit(query)
    df.select(col(idCol), cosine(col(vecCol), q).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** BATCH radius search: every (query, corpus) pair with cosine >=
    * `minCosine`, for a whole query FRAME in one plan — the serving shape
    * when a worker answers many threshold subscriptions per corpus pass.
    * The query side broadcasts (serving batches are small); the corpus
    * scans ONCE and evaluates all queries per row, map-only — corpus
    * bytes amortize over the batch instead of one scan per query.
    * Returns (qid, id, cosine). */
  def radiusSearchBatch(df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      minCosine: Double): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
    df.crossJoin(broadcast(q))
      .select(col("qid"), col(idCol),
        cosine(col(vecCol), col("qvec")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Two-stage radius search over a [[buildSqIndex]] collection: stage 1
    * scans only the 4×-compressed codes and keeps ids whose APPROXIMATE
    * cosine clears `minCosine - margin` (the slack absorbs quantization
    * error — sq8 decodes to cell midpoints, so per-component error is
    * bounded by scale/2 and the cosine error is far below the default
    * margin on any non-adversarial corpus; SimilaritySpec asserts full
    * recall vs [[radiusSearch]]); stage 2 exact-verifies ONLY that pool
    * against the original embeddings via a semi-join (AQE broadcasts it
    * at runtime when small — see the body note), so precision is always 1
    * and the full-precision read is O(pool), not O(corpus). The 100 TB
    * shape: threshold scans are I/O-bound, and the coarse pass reads a
    * quarter of the bytes. */
  def sqRadiusSearch(index: graft.api.Collection, corpus: DataFrame,
      idCol: String, vecCol: String, query: Seq[Float], minCosine: Double,
      margin: Double = 0.05): DataFrame = {
    val (minv, scale) = loadSqParams(java.nio.file.Paths.get(index.path))
      .getOrElse(
        throw new IllegalStateException(s"no sq8 params sidecar at ${index.path}"))
    val decoded = graft.functions.VectorExpressions.sq8_decode(
      col("codes"), minv, scale)
    val q = typedlit(query.map(_.toDouble))
    val pool = index.scan()
      .select(col("vid").as(idCol), cosineComposed(decoded, q).as("approx"))
      .filter(col("approx") >= minCosine - margin)
      .select(col(idCol))
    // No broadcast hint, deliberately: unlike top-k re-ranking (pool
    // bounded by `candidates`), a radius pool is DATA-DEPENDENT — a loose
    // threshold can match most of the corpus, and a forced broadcast of an
    // unbounded id set is a driver OOM at 100 TB. AQE upgrades the
    // semi-join to broadcast at runtime exactly when the pool is small.
    corpus.join(pool, Seq(idCol), "left_semi")
      .transform(c => radiusSearch(c, idCol, vecCol, query, minCosine))
  }

  /** Two-stage ANN re-ranking (the standard serving shape): stage 1 ranks
    * the COMPRESSED corpus — [[sqTopK]]'s asymmetric distance over the 4×
    * smaller int8 codes, map-only — down to a `candidates`-sized pool;
    * stage 2 re-scores ONLY that pool with exact cosine over the original
    * embeddings and returns its true top-k. At 100 TB the full-corpus I/O
    * touches only codes; the exact pass reads O(candidates) rows via a
    * broadcast semi-join, so its cost is independent of corpus size.
    * Recall dominates single-stage quantized ranking because the final
    * order is exact wherever it matters (asserted in SimilaritySpec). */
  def rerankTopK(index: graft.api.Collection, corpus: DataFrame,
      idCol: String, vecCol: String, query: Seq[Float], k: Int,
      candidates: Int = 100): DataFrame = {
    val pool = sqTopK(index, idCol, query, candidates).select(col(idCol))
    corpus.join(broadcast(pool), Seq(idCol), "left_semi")
      .transform(c => bruteForceTopK(c, idCol, vecCol, query, k))
  }

  /** Maximal-marginal-relevance DIVERSIFIED top-k (Carbonell & Goldstein
    * 1998): greedily select k results maximizing
    * `lambda * rel(c) - (1-lambda) * max_{s in selected} sim(c, s)` —
    * relevant results that are not near-copies of ones already chosen,
    * the re-rank retrieval pipelines run so a near-dup cluster can't
    * monopolize the context window.
    *
    * Scale split: relevance ranking and all candidate-pair similarities
    * are DISTRIBUTED (one corpus top-`candidates` heap + one broadcast
    * self-join of the pool — O(candidates²) pairs, corpus-size-
    * independent); only the greedy selection itself runs on the driver
    * over those precollected doubles, because each pick depends on the
    * previous one — a k-step sequential recurrence over ≤ `candidates`
    * scores, not data work. Both engines then see the identical double
    * values, so the oracle's recursive-CTE greedy agrees exactly.
    * Returns (rk, id) with rk = 1..k in selection order. */
  def mmrTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, lambda: Double = 0.7,
      candidates: Int = 30): DataFrame = {
    val spark = df.sparkSession
    val pool = bruteForceTopK(df, idCol, vecCol, query, candidates)
    val rels: Map[Long, Double] = pool.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val vecs = df
      .join(broadcast(pool.select(col(idCol))), Seq(idCol), "left_semi")
      .select(col(idCol), col(vecCol))
    val sims: Map[(Long, Long), Double] = vecs
      .select(col(idCol).as("ia"), col(vecCol).as("va"))
      .crossJoin(broadcast(vecs.select(col(idCol).as("ib"), col(vecCol).as("vb"))))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"), cosine(col("va"), col("vb")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def sim(x: Long, y: Long): Double = if (x < y) sims((x, y)) else sims((y, x))
    val mu = 1 - lambda
    val ids = rels.keys.toSeq
    var selected = Vector.empty[Long]
    while (selected.size < math.min(k, ids.size)) {
      val remaining = ids.filterNot(selected.contains)
      val next =
        if (selected.isEmpty) remaining.minBy(id => (-rels(id), id))
        else remaining.minBy { id =>
          (-(lambda * rels(id) - mu * selected.map(sim(id, _)).max), id)
        }
      selected :+= next
    }
    import spark.implicits._
    selected.zipWithIndex.map { case (id, i) => (i + 1, id) }
      .toDF("rk", idCol)
  }

  /** MATRYOSHKA two-stage search (Kusupati et al. 2022): embeddings whose
    * training nests coarse representations in their PREFIX let stage 1
    * rank on just the first `coarseDims` components — `coarseDims/dim` of
    * the flops and (with the prefix stored as its own column/index) of
    * the bytes — and stage 2 re-score only the `candidates` pool with
    * full-dimension exact cosine. Same two-stage cost law as
    * [[rerankTopK]] but the compression axis is DIMENSIONS, not bits per
    * component, so no codebook/params sidecar is needed at all: the
    * "index" is a slice. Both stages are map-only TakeOrderedAndProject
    * heaps; the re-rank pool joins back by broadcast. */
  def matryoshkaTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, coarseDims: Int = 16,
      candidates: Int = 100): DataFrame = {
    val qCoarse = typedlit(query.take(coarseDims))
    val pool = df
      .select(col(idCol),
        cosine(slice(col(vecCol), 1, coarseDims), qCoarse).as("ccos"))
      .orderBy(col("ccos").desc, col(idCol))
      .limit(candidates)
      .select(col(idCol))
    df.join(broadcast(pool), Seq(idCol), "left_semi")
      .transform(c => bruteForceTopK(c, idCol, vecCol, query, k))
  }

  /** BATCH two-stage re-ranking: a whole DataFrame of queries through the
    * sq8-coarse → exact-re-rank pipeline in ONE plan (a query batch is
    * data, not a driver loop — the s07 principle applied to the rerank
    * shape). Stage 1 scores every (code row × query) pair over the
    * broadcast batch — the corpus side reads only the 4×-compressed
    * codes — and keeps `candidates` per query via a window on the slim
    * (qid, ccos, vid) projection; stage 2 re-scores only the
    * |batch|·candidates pool exactly, via a broadcast join back to the
    * corpus. Work scales with |batch| × corpus for the coarse arithmetic
    * (inherent to exhaustive codes; compose with IVF for probe pruning)
    * but corpus I/O stays one compressed scan regardless of batch size. */
  def rerankTopKBatch(index: graft.api.Collection, corpus: DataFrame,
      idCol: String, vecCol: String, queries: DataFrame, qidCol: String,
      qvecCol: String, k: Int, candidates: Int = 100): DataFrame = {
    val (minv, scale) = loadSqParams(java.nio.file.Paths.get(index.path))
      .getOrElse(
        throw new IllegalStateException(s"no sq8 params sidecar at ${index.path}"))
    val decoded = graft.functions.VectorExpressions.sq8_decode(
      col("codes"), minv, scale)
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"),
      col(qvecCol).cast("array<double>").as("qvd"))
    val wPool = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("ccos").desc, col("vid"))
    val pool = index.scan().crossJoin(broadcast(q))
      .withColumn("ccos", cosineComposed(decoded, col("qvd")))
      .select(col("qid"), col("qvec"), col("vid"), col("ccos"))
      .withColumn("prk", row_number().over(wPool))
      .filter(col("prk") <= candidates)
      .select(col("qid"), col("qvec"), col("vid").as(idCol))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cosine").desc, col(idCol))
    corpus.join(broadcast(pool), Seq(idCol))
      .select(col("qid"), col(idCol),
        cosine(col(vecCol), col("qvec")).as("cosine"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select(col("qid"), col(idCol), col("cosine"), col("rk"))
  }

  /** FILTERED two-stage ANN (metadata predicate + vector search — the
    * other half of the standard serving shape): `filter` evaluates over
    * the metadata columns the index carries ([[buildSqIndex]]'s
    * `metaCols`) DURING the coarse scan — map-only, before any ranking,
    * so every candidate already satisfies the predicate and the pool is
    * never diluted by rows a post-filter would discard (the classic
    * filtered-ANN recall trap). Stage 2 re-scores only the pool exactly,
    * same as [[rerankTopK]]. At 100 TB a filtered query costs what an
    * unfiltered one costs: one pass over the compressed codes (manifest
    * stats/blooms over indexed metadata prune segments on top), plus
    * O(candidates) exact rows. */
  def filteredRerankTopK(index: graft.api.Collection, corpus: DataFrame,
      idCol: String, vecCol: String, filter: org.apache.spark.sql.Column,
      query: Seq[Float], k: Int, candidates: Int = 100): DataFrame = {
    val (minv, scale) = loadSqParams(java.nio.file.Paths.get(index.path))
      .getOrElse(
        throw new IllegalStateException(s"no sq8 params sidecar at ${index.path}"))
    val decoded = graft.functions.VectorExpressions.sq8_decode(
      col("codes"), minv, scale)
    val q = typedlit(query.map(_.toDouble))
    val pool = index.scan()
      .filter(filter)
      .select(col("vid").as(idCol), cosineComposed(decoded, q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(candidates)
      .select(col(idCol))
    corpus.join(broadcast(pool), Seq(idCol), "left_semi")
      .transform(c => bruteForceTopK(c, idCol, vecCol, query, k))
  }

  /** Build a persistent BINARY-code ANN index: each vector reduced to a
    * single BIGINT of `bits` sign bits (the [[signLshSignature]] hyperplane
    * signs packed into one machine word — 8 bytes/vector vs 256 for the
    * raw float[64], a 32× scan-size reduction, 4× smaller than even the
    * int8 SQ codes). Range-clustering on the code keeps each segment's
    * code range narrow, so probe-side filters still prune via manifest
    * stats. The index stores (vid, sig) ONLY — candidates re-join the
    * corpus for exact scoring, so the full-corpus pass of every query
    * touches nothing but 16-byte rows. */
  def buildHammingIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      df: DataFrame, idCol: String, vecCol: String,
      bits: Int = 64, numSegments: Int = 8): graft.api.Collection = {
    val coded = df
      .select(col(idCol).as("vid"),
        signLshSignature(col(vecCol), bits).as("sig"))
      .repartitionByRange(numSegments, col("sig"))
    graft.api.Collection.create(spark, path, coded)
  }

  /** Two-stage ANN over a [[buildHammingIndex]] collection: stage 1 ranks
    * the WHOLE corpus by Hamming distance between 64-bit codes — one
    * `bit_count(xor)` per row, the cheapest distance computable, map-only
    * with a per-partition top-`candidates` heap (TakeOrderedAndProject), no
    * shuffle of the corpus; stage 2 re-scores only the candidate pool with
    * exact cosine over the original embeddings via a broadcast semi-join.
    * Hamming over sign bits is a monotone estimator of angular distance
    * (cos(pi * hd/bits) approximates the true cosine), so the coarse stage
    * is recall-effective while reading 32× fewer bytes than the exact
    * stage would. Ties in the coarse stage break on id — fully
    * deterministic, which is what lets DuckDB reproduce the exact
    * candidate pool in the oracle. */
  def hammingTopK(index: graft.api.Collection, corpus: DataFrame,
      idCol: String, vecCol: String, query: Seq[Float], k: Int,
      candidates: Int = 100, bits: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    val qSig = spark.range(1).select(typedlit(query).as("q"))
      .select(signLshSignature(col("q"), bits).as("sig")).head().getLong(0)
    val pool = index.scan()
      .select(col("vid").as(idCol),
        bit_count(col("sig").bitwiseXOR(lit(qSig))).as("hd"))
      .orderBy(col("hd"), col(idCol))
      .limit(candidates)
      .select(col(idCol))
    corpus.join(broadcast(pool), Seq(idCol), "left_semi")
      .transform(c => bruteForceTopK(c, idCol, vecCol, query, k))
  }

  private def saveSqParams(dir: java.nio.file.Path, minv: Double,
      scale: Double): Unit =
    CollectionMeta.writeSlot(dir, CollectionMeta.Sq8ParamsSlot,
      Some(s"""{"minv":$minv,"scale":$scale}"""))

  /** Quantizer params persisted by [[buildSqIndex]], if any. */
  def loadSqParams(dir: java.nio.file.Path): Option[(Double, Double)] =
    CollectionMeta.readJson[Map[String, Double]](dir,
      CollectionMeta.Sq8ParamsSlot).map(m => (m("minv"), m("scale")))
}
