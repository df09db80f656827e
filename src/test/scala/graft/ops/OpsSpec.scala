package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** Behavioral specs for the LLM-pipeline operators: planted near-dups must
  * be recalled, ANN must agree with brute force on its probed buckets, and
  * the multimodal plumbing must preserve the batch contract. */
class OpsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$sf0001/embeddings.parquet")

  private def planted = docs.unionByName(
    docs.filter($"doc_id" % 20 === 0)
      .withColumn("doc_id", $"doc_id" + 1000000L)
      .withColumn("text", concat($"text", lit(" extraplantedtoken"))))

  private def plantedIds =
    docs.filter($"doc_id" % 20 === 0).select($"doc_id").as[Long].collect().toSet

  test("exact dedup keeps min id and counts copies") {
    val dups = docs.unionByName(docs.withColumn("doc_id", $"doc_id" + 5000L))
    val out = DedupOps.exactDedup(dups, "doc_id", "text")
    assert(out.count() == docs.count()) // every text collapses to one group
    assert(out.agg(max($"n_copies")).head().getLong(0) == 2L)
    assert(out.agg(max($"keep_id")).head().getLong(0) < 5000L) // min id kept
  }

  test("url canonicalization folds scheme/www/fragment/utm/slash variants") {
    val variants = Seq(
      "https://site1.com/page/3",
      "HTTPS://site1.com/page/3",
      "https://www.site1.com/page/3",
      "https://WWW.site1.com/page/3/",
      "https://site1.com/page/3?utm_source=feed&utm_id=2",
      "https://site1.com/page/3/?utm_campaign=x#frag",
      "https://site1.com/page/3#sec2")
      .zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("doc_id", "url")
    val out = DedupOps.urlDedup(variants, "doc_id", "url")
    assert(out.count() == 1L, out.collect().mkString(","))
    val row = out.head()
    assert(row.getAs[String]("canonical_url") == "site1.com/page/3")
    assert(row.getAs[Long]("keep_id") == 0L)
    assert(row.getAs[Long]("n_dups") == 7L)
    // a REAL (non-tracking) query parameter survives canonicalization
    val kept = DedupOps.urlDedup(Seq(
      (0L, "https://site1.com/page/3?id=7"),
      (1L, "https://site1.com/page/3?id=8")).toDF("doc_id", "url"),
      "doc_id", "url")
    assert(kept.count() == 2L)
  }

  test("incremental dedup rejects corpus re-crawls and self-dedups the batch") {
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val fresh = docs.filter($"doc_id" % 2 === 1)
    // batch = fresh docs + re-crawled corpus copies + one internal dup pair
    val batch = fresh
      .unionByName(corpus.limit(5).withColumn("doc_id", $"doc_id" + 1000000L))
      .unionByName(fresh.limit(3).withColumn("doc_id", $"doc_id" + 2000000L))
    val out = DedupOps.incrementalDedup(corpus, batch, "doc_id", "text")
    val kept = out.select($"keep_id").as[Long].collect().toSet
    // no re-crawl admitted, every admitted id is the batch-minimal one
    assert(kept.forall(_ < 1000000L))
    assert(out.count() == fresh.count()) // each fresh text admitted once
    // the three internal dups collapsed onto their originals with count 2
    val doubled = out.filter($"n_batch_copies" === 2).count()
    assert(doubled == 3)
  }

  test("bloom incremental dedup equals the exact path; no false negatives") {
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val batch = docs.filter($"doc_id" % 3 === 0)
      .unionByName(docs.filter($"doc_id" % 6 === 1)
        .withColumn("doc_id", $"doc_id" + 500000L))
    val bloomPath = java.nio.file.Files.createTempDirectory("abloom")
      .resolve("c.bloom").toString
    DedupOps.buildAdmissionBloom(corpus, "text", bloomPath, bits = 1 << 20)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaBloom = rows(DedupOps.bloomIncrementalDedup(
      corpus, batch, "doc_id", "text", bloomPath))
    val exact = rows(DedupOps.incrementalDedup(corpus, batch, "doc_id", "text"))
    assert(viaBloom == exact,
      s"bloom path diverged: ${(viaBloom diff exact) union (exact diff viaBloom)}")

    // soundness: every corpus document is bloom-POSITIVE (no false
    // negatives — a negative admits without verification)
    val bloom = graft.format.KeyBloom.readFrom(
      java.nio.file.Paths.get(bloomPath)).get
    val corpusHx = corpus
      .select(xxhash64(sha2($"text", 256))).as[Long].collect()
    assert(corpusHx.forall(bloom.mightContainHash),
      "admission bloom must never miss a corpus hash")

    // append-only growth: fold the admitted batch in, then a re-crawl of
    // that batch against corpus+batch comes back fully deduplicated
    DedupOps.updateAdmissionBloom(batch, "text", bloomPath)
    val grown = corpus.select($"doc_id", $"text")
      .unionByName(batch.select($"doc_id", $"text"))
    val recrawl = rows(DedupOps.bloomIncrementalDedup(
      grown, batch, "doc_id", "text", bloomPath))
    assert(recrawl.isEmpty, s"re-crawled batch must fully dedup: $recrawl")
    // the updated filter still has zero false negatives over the batch
    val updated = graft.format.KeyBloom.readFrom(
      java.nio.file.Paths.get(bloomPath)).get
    val batchHx = batch
      .select(xxhash64(sha2($"text", 256))).as[Long].collect()
    assert(batchHx.forall(updated.mightContainHash))
  }

  test("concurrent admission-bloom folds lose no bits (serialized RMW, " +
      "under BOTH FileIO impls)") {
    underEachFileIO { tag =>
      val bloomPath = java.nio.file.Files.createTempDirectory("cbloom")
        .resolve("admission.bloom").toString
      val corpus = docs.filter($"doc_id" < 10)
      DedupOps.buildAdmissionBloom(corpus, "text", bloomPath, bits = 1 << 20)
      // four batches fold CONCURRENTLY: without the lock two folds read
      // the same base and the later swap discards the earlier bits —
      // lost bits are false NEGATIVES, which the admission path treats
      // as proven-new and would re-admit duplicates unverified
      val batches = (0 until 4).map(i =>
        docs.filter($"doc_id" % 4 === i && $"doc_id" >= 10 && $"doc_id" < 110))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      Await.result(Future.sequence(batches.map(b => Future {
        DedupOps.updateAdmissionBloom(b, "text", bloomPath)
      })), 120.seconds)
      val bloom = graft.format.KeyBloom.readFrom(
        java.nio.file.Paths.get(bloomPath)).get
      val allHx = docs.filter($"doc_id" < 110)
        .select(xxhash64(sha2($"text", 256))).as[Long].collect()
      assert(allHx.forall(bloom.mightContainHash),
        s"[$tag] a concurrently-folded batch lost bits from the admission bloom")
    }
  }

  test("token-budget sample fits the budget, maximal and partition-stable") {
    def toks = sum(size(split($"text", " ")).cast("long"))
    val total = docs.agg(toks).head().getLong(0)
    val budget = total / 3
    val kept = SampleOps.tokenBudgetSample(docs, "doc_id", "text", budget)
    val keptTokens = kept.agg(toks).head().getLong(0)
    assert(keptTokens <= budget, s"over budget: $keptTokens > $budget")
    // maximal under the hash order: adding the NEXT doc would overflow
    // (equivalently, kept tokens land within one max-doc of the budget)
    val maxDoc = docs.agg(max(size(split($"text", " ")).cast("long"))).head().getLong(0)
    assert(keptTokens + maxDoc > budget, "sample must be maximal for its order")
    // degenerate budgets
    assert(SampleOps.tokenBudgetSample(docs, "doc_id", "text", 0L).isEmpty)
    assert(SampleOps.tokenBudgetSample(docs, "doc_id", "text", total).count()
      == docs.count())
    // deterministic under repartitioning
    val again = SampleOps.tokenBudgetSample(docs.repartition(7), "doc_id", "text", budget)
      .select($"doc_id").as[Long].collect().toSet
    assert(again == kept.select($"doc_id").as[Long].collect().toSet)
    // the bucket-prefix width is a pure PLAN choice: the 4-hex split (the
    // production width — ~1/65,536 of the corpus through the boundary
    // window task) selects exactly the rows the 2-hex split does on the
    // same seed, because md5 order = (prefix, rest) lex order at any width
    val twoHex = SampleOps.tokenBudgetSampleWithPrefix(
        docs, "doc_id", "text", budget, "graft", prefixLen = 2)
      .select($"doc_id").as[Long].collect().toSet
    assert(twoHex == kept.select($"doc_id").as[Long].collect().toSet,
      "prefix width must not change token-budget semantics")
  }

  test("source cap bounds every source and passes small sources through") {
    val capped = SampleOps.sourceCap(docs, "doc_id", "source", 10)
    val per = capped.groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    assert(per.values.forall(_ <= 10), s"cap violated: $per")
    assert(per.values.exists(_ == 10), "cap must actually bite on this corpus")
    val before = docs.groupBy($"source").count().as[(String, Long)].collect().toMap
    before.filter(_._2 <= 10).foreach { case (src, n) =>
      assert(per(src) == n, s"under-quota source $src must pass through whole")
    }
    // deterministic regardless of partitioning
    val again = SampleOps.sourceCap(docs.repartition(7), "doc_id", "source", 10)
      .select($"doc_id").as[Long].collect().toSet
    assert(again == capped.select($"doc_id").as[Long].collect().toSet)
  }

  test("edit-distance pairs recall planted char-level variants exactly") {
    val planted3 = docs.select($"doc_id", $"text").unionByName(
      docs.filter($"doc_id" % 20 === 0)
        .withColumn("doc_id", $"doc_id" + 1000000L)
        .withColumn("text", concat($"text", lit(" qq")))
        .select($"doc_id", $"text"))
    val pairs = DedupOps.editDistancePairs(planted3, "doc_id", "text", maxDist = 5)
      .select($"doc_a", $"doc_b", $"dist").as[(Long, Long, Int)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    plantedIds.foreach { id =>
      assert(byPair.get((id, id + 1000000L)).contains(3),
        s"planted 3-char variant of $id must verify at dist 3")
    }
    // verification is tight: nothing beyond maxDist slips through
    assert(pairs.forall(_._3 <= 5))
  }

  test("cluster keep-best keeps the longest member once per chain") {
    val base = "many distinct words compose this long synthetic sentence for shingle tests"
    val rows = Seq(
      (1L, base), (2L, base + " extra"), (3L, base + " extra more"),
      (10L, "a completely different unrelated text about nothing shared here at all"))
      .toDF("doc_id", "text")
    val out = DedupOps.clusterKeepBest(rows, "doc_id", "text").collect()
    assert(out.length == 1) // one chain; the unrelated doc has no cluster row
    val r = out.head
    assert(r.getLong(1) == 3L, "longest member must be kept")
    assert(r.getLong(2) == 3L, "all three chain members counted")
  }

  test("C4 rules count surviving lines and gate documents by reason") {
    val rows = Seq(
      (1L, "This is a good sentence.\nAnother fine long line!\nIs this kept too?\nshort."),
      (2L, "Lorem Ipsum dolor sit amet.\nA perfectly good line.\nAnother good line here.\nThird good line here."),
      (3L, "function f() { return 1; }\nA good line is here.\nAnother good line here.\nThird good line here."),
      (4L, "no terminal punctuation at all\nterminates here.")
    ).toDF("doc_id", "text")
    val out = TextOps.c4Rules(rows, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(2) == 3 && out(1L).getBoolean(5)) // "short." < 3 words
    assert(out(2L).getBoolean(3) && !out(2L).getBoolean(5)) // lorem ipsum gate
    assert(out(3L).getBoolean(4) && !out(3L).getBoolean(5)) // brace/code gate
    assert(out(4L).getInt(2) == 0 && !out(4L).getBoolean(5)) // too few kept lines
  }

  test("minhash-LSH recalls every planted near-dup pair") {
    val pairs = DedupOps.minhashLshPairs(planted, "doc_id", "text")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    plantedIds.foreach { id =>
      assert(pairs.contains((id, id + 1000000L)), s"missing planted pair for doc $id")
    }
  }

  test("minhash-LSH pairs duplicate clusters larger than the band-bucket cap") {
    // A (near-)identical cluster bigger than maxBandBucket collides in
    // EVERY band, so every one of its buckets gets capped — without the
    // identical-signature star pairs the whole cluster (the main target of
    // dedup) would yield zero pairs.
    val clusterText = "the same boilerplate document body repeated verbatim " +
      "across the corpus many times over"
    val cluster = spark.range(2000000L, 2000260L).toDF("doc_id")
      .withColumn("text", lit(clusterText))
    val corpus = docs.limit(20).select($"doc_id", $"text").unionByName(cluster)
    val pairs = DedupOps.minhashLshPairs(corpus, "doc_id", "text", maxBandBucket = 50)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    (2000000L until 2000260L).foreach(id =>
      assert(paired.contains(id), s"cluster member $id invisible to dedup"))
  }

  test("minhash-LSH mustCheck pins pairs past the probabilistic candidate stage") {
    // Two docs at exactly J = 0.8 (9-shingle sets differing in one): with
    // maxBandBucket = 1 every band bucket is capped away and the signatures
    // differ (no star pair), so LSH alone yields NOTHING — the shape of a
    // borderline pair lost to the ~2e-4 band-miss probability. Pinning the
    // pair via mustCheck must route it to exact verification anyway, and
    // the (b, a)-ordered input must come back normalized to a < b.
    val two = Seq(
      (1L, "a b c d e f g h i j k"),
      (2L, "a b c d e f g h i j z")).toDF("doc_id", "text")
    val lshOnly = DedupOps.minhashLshPairs(two, "doc_id", "text", maxBandBucket = 1)
    assert(lshOnly.isEmpty, "capped buckets must suppress the band candidates")
    val pinned = DedupOps.minhashLshPairs(two, "doc_id", "text", maxBandBucket = 1,
      mustCheck = Some(Seq((2L, 1L)).toDF("doc_a", "doc_b")))
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)].collect()
    assert(pinned.toSeq == Seq((1L, 2L, 0.8)))
  }

  test("simhash recalls planted pairs within hamming 3") {
    val pairs = DedupOps.simhashPairs(planted, "doc_id", "text")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val recalled = plantedIds.count(id => pairs.contains((id, id + 1000000L)))
    // one extra token can flip >3 bits on very short docs; demand >=90%
    assert(recalled >= (plantedIds.size * 9) / 10,
      s"simhash recall $recalled/${plantedIds.size}")
  }

  test("ngram-jaccard inverted index equals minhash-verified pairs") {
    val mh = DedupOps.minhashLshPairs(planted, "doc_id", "text", threshold = 0.8)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val ng = DedupOps.ngramJaccardPairs(planted, "doc_id", "text", threshold = 0.8)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    // minhash-LSH is a candidate filter over the same exact-jaccard verify:
    // it can only miss pairs the inverted index finds, never add.
    assert(mh.subsetOf(ng))
    plantedIds.foreach(id => assert(ng.contains((id, id + 1000000L))))
  }

  test("embedding near-dup finds all planted scaled copies") {
    val plantedE = embs.unionByName(
      embs.filter($"vec_id" % 25 === 0)
        .withColumn("vec_id", $"vec_id" + 1000000L)
        .withColumn("embedding", transform($"embedding", v => (v * lit(1.01f)).cast(FloatType))))
    val expect = embs.filter($"vec_id" % 25 === 0).select($"vec_id").as[Long].collect().toSet
    val pairs = DedupOps.embeddingNearDupPairs(plantedE, "vec_id", "embedding")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    expect.foreach(id => assert(pairs.contains((id, id + 1000000L)), s"missing vec $id"))
  }

  test("embedding near-dup pairs an over-cap identical-direction cluster via star pairs") {
    // 50 positive scalings of ONE base vector with maxBucket = 20: the
    // cluster is over-cap in EVERY band (identical direction => identical
    // full signature), so band candidates contribute nothing for it — the
    // identical-signature star pairs must still connect all 50 members.
    val base = embs.filter($"vec_id" === 0L)
    val cluster = (0 until 50).map { i =>
      base.withColumn("vec_id", lit(10000L + i))
        .withColumn("embedding",
          transform($"embedding", v => (v * lit(1.0f + i * 0.01f)).cast(FloatType)))
    }.reduce(_ unionByName _)
    val corpus = embs.filter($"vec_id" =!= 0L).unionByName(cluster)
    val pairs = DedupOps.embeddingNearDupPairs(corpus, "vec_id", "embedding",
      maxBucket = 20)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // star shape: representative (min id 10000) pairs with every member
    (1 until 50).foreach(i =>
      assert(pairs.contains((10000L, 10000L + i)), s"missing star pair to member $i"))
    // and the cluster collapses to ONE connected component downstream
    val comps = ClusterOps.connectedComponents(
      pairs.toSeq.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      .filter($"node" >= 10000L && $"node" < 10050L)
      .select($"cluster").distinct().as[Long].collect()
    assert(comps.toSeq == Seq(10000L), s"cluster split across components: ${comps.toSeq}")
  }

  test("embedding near-dup band buckets never self-join over the cap") {
    // Direct audit of the candidate-stage invariant on the same over-cap
    // corpus: recompute the banded keys exactly as the operator does and
    // assert every bucket admitted to the join is within the cap.
    val n = embs.count()
    val bpb = DedupOps.lshBitsFor(n)
    val mask = (1L << bpb) - 1
    val banded = embs
      .withColumn("sig", SimilarityOps.signLshSignature($"embedding", bpb * 4))
      .select(posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftrightunsigned", $"sig", b * lit(bpb)).bitwiseAND(lit(mask)))))
    val maxPop = banded.groupBy($"pos", $"col").count()
      .agg(max($"count")).as[Long].head()
    // sanity on the fixture itself: sf0.001 embeddings stay under the
    // default cap, so the capped plan loses no candidates at test scale
    assert(maxPop <= 200, s"fixture bucket population $maxPop exceeds default cap")
    assert(DedupOps.lshBitsFor(100L) == 8)        // floor
    assert(DedupOps.lshBitsFor(64L * (1L << 12)) == 12)  // scales with n
    assert(DedupOps.lshBitsFor(Long.MaxValue) == 15)     // ceiling
  }

  test("LSH top-k results all appear in brute-force ranking with same scores") {
    val q = embs.filter($"vec_id" === 0L).select($"embedding").head().getSeq[Float](0)
    val bf = SimilarityOps.bruteForceTopK(embs, "vec_id", "embedding", q, 50)
      .as[(Long, Double)].collect().toMap
    val ann = SimilarityOps.lshTopK(embs, "vec_id", "embedding", q, 10)
      .as[(Long, Double)].collect()
    assert(ann.nonEmpty && ann.head._1 == 0L) // query finds itself first
    ann.foreach { case (id, c) =>
      bf.get(id).foreach(bc => assert(math.abs(bc - c) < 1e-9))
    }
  }

  test("persistent ANN index prunes segments and agrees with the on-the-fly path") {
    val path = java.nio.file.Files.createTempDirectory("ann_idx").resolve("c").toString
    val idx = SimilarityOps.buildAnnIndex(spark, path, embs, "vec_id", "embedding",
      bits = 8, numSegments = 8)
    val q = embs.filter($"vec_id" === 0L).select($"embedding").head().getSeq[Float](0)

    // identical results to the per-query-recompute path (same algorithm)
    val viaIndex = SimilarityOps.annTopK(idx, "vec_id", "embedding", q, 10)
      .as[(Long, Double)].collect().toSeq
    val onTheFly = SimilarityOps.lshTopK(embs, "vec_id", "embedding", q, 10)
      .as[(Long, Double)].collect().toSeq
    assert(viaIndex == onTheFly)
    assert(viaIndex.head._1 == 0L) // query finds itself first

    // the probe IN-filter must prune: task count (= surviving segments) is a
    // strict subset of the bucket-clustered index's segments
    val total = graft.meta.CollectionMeta
      .currentManifest(java.nio.file.Paths.get(path)).segments.size
    val probes = SimilarityOps.probeSet(spark, q, 8)
    val probed = idx.scan().filter($"bucket".isin(probes: _*))
    assert(total == 8)
    assert(probed.rdd.getNumPartitions < total,
      s"expected segment pruning: ${probed.rdd.getNumPartitions} of $total tasks")
  }

  test("connected components collapses transitive chains to min-id clusters") {
    // path graph 1-2-3-4-5 (diameter 4, needs >1 propagation round),
    // a disjoint pair, and a triangle
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val cc = ClusterOps.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(cc(_) == 1L))
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(Seq(20L, 21L, 22L).forall(cc(_) == 20L))
    assert(cc.size == 10)
    // maxIter too small for the diameter: labels must still be a valid
    // partial result (never wrong cluster membership across components)
    val partial = ClusterOps.connectedComponents(pairs, "a", "b", maxIter = 1)
      .as[(Long, Long)].collect().toMap
    val componentMin = Map[Long, Long]() ++
      (1L to 5L).map(_ -> 1L) ++ Seq(10L -> 10L, 11L -> 10L) ++
      Seq(20L, 21L, 22L).map(_ -> 20L)
    partial.foreach { case (node, label) =>
      assert(label <= node && label >= componentMin(node),
        s"node $node got label $label outside its component")
    }
  }

  test("lloyd training is bit-stable across partitionings and refines clusters") {
    val k = 4
    val seeds = SimilarityOps.trainIvfCentroids(embs, "vec_id", "embedding", k, 0)
    val t1 = SimilarityOps.trainIvfCentroids(embs, "vec_id", "embedding", k, 1)
    val t2 = SimilarityOps.trainIvfCentroids(
      embs.repartition(13), "vec_id", "embedding", k, 1)
    // decimal-summed means: identical result regardless of partitioning
    assert(t1 == t2, "training must be deterministic across partitionings")
    assert(t1.map(_._1) == seeds.map(_._1))
    assert(t1 != seeds, "one Lloyd pass should move the seed centroids")
    // trained index still answers: results are a subset of brute-force order
    val path = java.nio.file.Files.createTempDirectory("ivf_tr").resolve("c").toString
    val idx = SimilarityOps.buildIvfIndex(spark, path, embs, "vec_id", "embedding",
      kCentroids = k, numSegments = 4, iterations = 1)
    val q = embs.filter($"vec_id" === 3L).select($"embedding").head().getSeq[Float](0)
    // centroids are persisted at build: the probe ranks them driver-side
    assert(SimilarityOps.loadCentroids(java.nio.file.Paths.get(path)).get == t1)
    val got = SimilarityOps.ivfTopK(idx, "vec_id", "embedding", q, 10,
      kCentroids = k, nprobe = 2)
      .select($"vec_id").as[Long].collect().toSet
    assert(got.size == 10)
    assert(got.contains(3L), "the query vector itself must be found")
  }

  test("rolling fingerprint is deterministic, order-sensitive, and collision-free here") {
    val rows = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c"), (4L, "a bc"))
      .toDF("doc_id", "text")
    val fp = rows.select($"doc_id",
      TextOps.rollingFingerprint(TextOps.tokens($"text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(3L), "same token stream, same fingerprint")
    assert(fp(1L) != fp(2L), "permutation must change an order-sensitive hash")
    assert(fp(1L) != fp(4L), "token boundaries matter")
    // bit-stable across partitionings (the dedup-key contract)
    val repart = rows.repartition(7).select($"doc_id",
      TextOps.rollingFingerprint(TextOps.tokens($"text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(repart == fp)
  }

  test("IVF Lloyd training keeps clusters balanced at sf0.1 (max/mean < 3)") {
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val k = 8
    val cents = SimilarityOps.trainIvfCentroids(emb, "vec_id", "embedding", k, iterations = 3)
    assert(cents.length == k)
    val vecs = emb.select($"vec_id".as("vid"), $"embedding".as("vec"))
    // lloydStep's per-cluster count (same n on every pos row) = cluster size
    val sizes = SimilarityOps.lloydStep(vecs, cents).filter($"pos" === 0)
      .select($"cluster", $"n").as[(Int, Long)].collect().toMap
    val total = sizes.values.sum
    assert(total == emb.count())
    val mean = total.toDouble / k
    assert(sizes.values.max < 3 * mean,
      s"skewed IVF clusters after training: sizes=$sizes mean=$mean")
  }

  test("multimodal decode preserves ids, byte lengths, and feature contract") {
    val media = docs.select($"doc_id", encode($"text", "UTF-8").as("media"))
    val out = MultimodalOps.decodeFeatures(media, "doc_id", "media")
    assert(out.schema == MultimodalOps.featureSchema)
    assert(out.count() == docs.count())
    // out derives from docs (typed pipeline keeps lineage): alias both sides
    val joined = out.as("o").join(docs.as("d"), col("o.media_id") === col("d.doc_id"))
      .filter(col("o.byte_len") =!= length(col("d.text"))) // ascii corpus: bytes == chars
    assert(joined.count() == 0)
    assert(out.filter(size($"features") =!= 8).count() == 0)
  }

  test("real video decode: GIF frame walk, MJPEG split, temporal envelope features") {
    def solid(w: Int, h: Int, rgb: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
      img
    }
    // animated GIF: frame iteration returns every frame with exact pixels
    val colors = Seq(0x000000, 0xffffff, 0x102030, 0xff0000)
    val gif = MultimodalOps.encodeAnimatedGif(colors.map(solid(4, 3, _)))
    val frames = MultimodalOps.decodeVideoFrames(gif).get
    assert(frames.length == 4)
    frames.zip(colors).foreach { case (img, c) =>
      assert(img.getWidth == 4 && img.getHeight == 3)
      assert((img.getRGB(0, 0) & 0xffffff) == c, f"pixel ${img.getRGB(0, 0)}%x != $c%x")
    }
    // single-frame GIF is an IMAGE, not a video
    assert(MultimodalOps.decodeVideoFrames(
      MultimodalOps.encodeAnimatedGif(Seq(solid(2, 2, 0x123456)))).isEmpty)
    // MJPEG: concatenated JPEGs split on EOI/SOI and decode per frame
    def jpeg(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(solid(w, h, rgb), "jpg", bos)
      bos.toByteArray
    }
    val mjpeg = jpeg(6, 4, 0x808080) ++ jpeg(6, 4, 0x404040) ++ jpeg(6, 4, 0xc0c0c0)
    val mframes = MultimodalOps.decodeVideoFrames(mjpeg).get
    assert(mframes.length == 3)
    assert(mframes.forall(f => f.getWidth == 6 && f.getHeight == 4))
    assert(MultimodalOps.decodeVideoFrames(jpeg(6, 4, 0x808080)).isEmpty) // one JPEG = image
    // decodeFeatures video branch: real frame count + windowed luminance
    // envelope (black and white frames -> windows hit 0 and 1 exactly)
    val media = Seq((7L, MultimodalOps.encodeAnimatedGif(
      Seq.fill(4)(solid(4, 3, 0x000000)) ++ Seq.fill(4)(solid(4, 3, 0xffffff)))))
      .toDF("doc_id", "media")
    val row = MultimodalOps.decodeFeatures(media, "doc_id", "media").collect().head
    assert(row.getAs[Int]("n_frames") == 8)
    val feats = row.getSeq[Float](row.fieldIndex("features"))
    assert(feats.take(4).forall(_ < 1e-6f) && feats.drop(4).forall(f => math.abs(f - 1f) < 1e-6f),
      feats.toString)
  }

  test("decodedVideoNearDupPairs decodes each asset exactly once (pinned subtree)") {
    def solid(w: Int, h: Int, rgb: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
      img
    }
    def gif(colors: Int*): Array[Byte] =
      MultimodalOps.encodeAnimatedGif(colors.map(solid(4, 3, _)))
    // two assets sharing 2 frames (pair), one disjoint
    val media = Seq(
      (1L, gif(0x111111, 0x222222, 0x333333)),
      (2L, gif(0x111111, 0x222222, 0x999999)),
      (3L, gif(0x777777, 0x888888, 0xaaaaaa))).toDF("doc_id", "media")
      .repartition(2).localCheckpoint(true) // pin inputs so only the op under test decodes
    MultimodalOps.videoDecodeCount.set(0L)
    val pairs = MultimodalOps.decodedVideoNearDupPairs(media, "doc_id", "media")
      .collect()
    // the decode subtree is persisted inside the op: the df-count
    // aggregate, semi-join, and both self-join sides must all read the
    // cached fingerprints — one decode per asset, not 3-4x
    assert(MultimodalOps.videoDecodeCount.get() == 3L,
      s"expected 3 decode passes, got ${MultimodalOps.videoDecodeCount.get()}")
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 2L)))
  }

  test("real image decode: dimensions, pixels, features, and resize round-trip") {
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // decodeImage: real dimensions and solid-color features
    val Some((w, h, feats)) = MultimodalOps.decodeImage(png(8, 4, 0xffffff))
    assert(w == 8 && h == 4)
    assert(feats.length == 8 && feats.forall(f => math.abs(f - 1.0f) < 1e-3))
    // black image -> zero luminance everywhere
    val Some((_, _, dark)) = MultimodalOps.decodeImage(png(3, 3, 0x000000))
    assert(dark.forall(_ == 0f))
    // non-image bytes decline (text that even starts with image magic)
    assert(MultimodalOps.decodeImage("GIF is a format".getBytes).isEmpty)
    assert(MultimodalOps.decodeImage("plain text".getBytes).isEmpty)
    // resizeImage: nearest-neighbor downscale, PNG round-trip exact
    val resized = MultimodalOps.resizeImage(png(8, 4, 0x123456), 2).get
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
    assert(back.getWidth == 4 && back.getHeight == 2)
    assert((back.getRGB(0, 0) & 0xffffff) == 0x123456)
    // decodeFeatures routes images through the real path (1 frame)
    val mixed = Seq((1L, png(5, 5, 0x804020)), (2L, "not an image".getBytes))
      .toDF("doc_id", "media")
    val out = MultimodalOps.decodeFeatures(mixed, "doc_id", "media")
      .select($"media_id", $"n_frames").as[(Long, Int)].collect().toMap
    assert(out(1L) == 1, "image media is a single decoded frame")
    assert(out(2L) == "not an image".getBytes.length / 64 + 1, "stub path for non-image")
  }

  test("real WAV decode: header fields, byte-swapped stats, and routing") {
    import graft.functions.WavUtil
    val samples = Array[Short](100, -200, 32767, -32768, 0, 7)
    val wav = WavUtil.encodeMono(16000, samples)
    // chunk-walk recovers the exact header fields and frame count
    val p = WavUtil.parse(wav)
    assert(p != null && p(0) == 1 && p(1) == 1 && p(2) == 16000 && p(3) == 16)
    val hdr = WavUtil.header(wav)
    assert(hdr.getInt(0) == 16000 && hdr.getInt(1) == 1 &&
      hdr.getInt(2) == 16 && hdr.getInt(3) == samples.length)
    // byte-swapped payload feeds pcm_stats to the analytic ground truth
    val df = Seq((1L, wav)).toDF("id", "wav")
    val st = df.select(graft.functions.AudioExpressions.pcm_stats(
        graft.functions.AudioExpressions.wav_pcm($"wav")).as("st"))
      .select($"st.n_samples", $"st.peak", $"st.sum_sq")
      .as[(Int, Int, Long)].head()
    assert(st._1 == samples.length)
    assert(st._2 == 32768, "peak of -32768 is 32768 after abs")
    assert(st._3 == samples.map(s => s.toLong * s).sum)
    // non-WAV bytes are null through wav_header/wav_pcm, not an error
    val nulls = Seq((1L, "not a wav".getBytes)).toDF("id", "wav")
      .select(graft.functions.AudioExpressions.wav_header($"wav").isNull,
        graft.functions.AudioExpressions.wav_pcm($"wav").isNull)
      .as[(Boolean, Boolean)].head()
    assert(nulls == ((true, true)))
    // decodeFeatures routes WAVs through the REAL audio path: one frame
    // per sample, not the stub's byte-length heuristic
    val out = MultimodalOps.decodeFeatures(
        Seq((9L, wav)).toDF("doc_id", "media"), "doc_id", "media")
      .select($"media_id", $"n_frames", $"features").as[(Long, Int, Seq[Float])].head()
    assert(out._2 == samples.length)
    assert(out._3.length == 8 && out._3.forall(f => f >= 0f && f <= 1f))
  }

  test("chunking covers every token with the configured overlap") {
    val doc = (1 to 25).map(i => s"t$i").mkString(" ")
    val rows = Seq((1L, doc), (2L, "short doc")).toDF("doc_id", "text")
    val out = rows.select($"doc_id",
        explode(TextOps.chunkTexts($"text", window = 10, stride = 5)).as("chunk"))
      .as[(Long, String)].collect()
    val c1 = out.filter(_._1 == 1L).map(_._2)
    // 25 tokens, window 10, stride 5 -> ceil((25-10)/5)+1 = 4 chunks
    assert(c1.length == 4)
    assert(c1.head == (1 to 10).map(i => s"t$i").mkString(" "))
    assert(c1.last == (16 to 25).map(i => s"t$i").mkString(" ")) // tail covered
    // consecutive chunks overlap by window - stride = 5 tokens
    assert(c1(0).split(" ").takeRight(5).sameElements(c1(1).split(" ").take(5)))
    // short docs yield exactly one whole-text chunk
    assert(out.filter(_._1 == 2L).map(_._2).toSeq == Seq("short doc"))
  }

  test("pii redaction scrubs emails and phones, leaves clean text intact") {
    val rows = Seq(
      (1L, "reach me at jane.doe+spam@sub.example.co.uk today"),
      (2L, "call +1 (415) 555-0199 or 020-7946-0958 now"),
      (3L, "no pii here just words"))
      .toDF("doc_id", "text")
    val out = rows.select($"doc_id", TextOps.redactPii($"text").as("t"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "reach me at [EMAIL] today")
    assert(out(2L) == "call [PHONE] or [PHONE] now")
    assert(out(3L) == "no pii here just words")
  }

  test("repetition ratio is 0 for distinct tokens and high for boilerplate") {
    val rows = Seq(
      (1L, "every token here is different"),
      (2L, "spam spam spam spam spam spam spam spam spam spam"),
      (3L, "")).toDF("doc_id", "text")
    val out = rows.select($"doc_id", TextOps.repetitionRatio($"text").as("r"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) == 0.0)
    assert(out(2L) == 0.9)
    assert(out(3L) == 0.0) // degenerate: no division by zero
  }

  test("content-hash sampling is deterministic, uniform-ish, and partitions") {
    val ids = spark.range(0L, 10000L).toDF("doc_id")
    val kept = SampleOps.contentHashSample(ids, "doc_id", "20")
      .as[Long].collect().toSet
    val kept2 = SampleOps.contentHashSample(ids.repartition(7), "doc_id", "20")
      .as[Long].collect().toSet
    assert(kept == kept2, "membership must not depend on partitioning")
    // 12.5% expected; allow generous binomial slack
    assert(kept.size > 1000 && kept.size < 1500, s"got ${kept.size}")
    // split labels partition the corpus disjointly and exhaustively
    val labels = ids.select(SampleOps.splitLabel($"doc_id").as("l"))
      .groupBy($"l").count().as[(String, Long)].collect().toMap
    assert(labels.keySet == Set("train", "heldout"))
    assert(labels.values.sum == 10000L)
    assert(labels("heldout") > 500 && labels("heldout") < 750) // 16/256 ≈ 6.25% of 10k
  }

  test("boilerplate line removal drops shared lines, keeps order, scopes by group") {
    val frame = Seq(
      // group g1: "HEADER" in 3/3 docs (removed), "RARE" in 1/3 (kept),
      // "HALF" in 2/3 (>= 1/2, removed). Doc 3 is all-boilerplate → drops.
      (1L, "g1", "HEADER\nbody one\nHALF"),
      (2L, "g1", "HEADER\nHALF\nbody two\nRARE"),
      (3L, "g1", "HEADER"),
      // group g2: "HEADER" appears in only 1/2 docs here — group-scoped
      // counting must KEEP it even though g1 removed the same string.
      (4L, "g2", "HEADER\nbody four"),
      // within-doc repetition counts once: "ECHO" twice in doc 5 is df=1.
      (5L, "g2", "ECHO\nbody five\nECHO")
    ).toDF("doc_id", "source", "text")
    val out = DedupOps.removeBoilerplate(frame, "doc_id", "text", "source")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains(3L), "all-boilerplate doc must vanish")
    assert(out(1L)._3 == "body one")
    assert(out(2L)._3 == "body two\nRARE", "order preserved after removal")
    assert(out(4L)._3 == "HEADER\nbody four", "df is group-scoped")
    assert(out(5L)._3 == "ECHO\nbody five\nECHO",
      "within-doc repeats are df=1, not boilerplate")
    assert(out(2L)._2 == 2L)
  }

  test("boilerplate removal shuffles carry hashed line keys; text crosses " +
      "at most the ONE reassembly exchange") {
    // 30 docs x 40 lines x ~120 chars (~142 KB of line text). The
    // text-keyed plan this replaced pushed the full line volume through
    // THREE exchanges (DF counting on (grp, line), the anti-join, and
    // reassembly-by-doc) — three "fat" exchanges. The hashed plan's
    // counting and anti-join exchanges carry (grp, 8-byte hash, pos)
    // only; the single place text may still cross is the reassembly
    // join's doc side (the per-doc line array, exactly d26's contract).
    // So: at most ONE exchange above lineVolume/2, and the total under
    // 2.5 passes (vs >= 3 text passes before).
    val nDocs = 30
    val rows = (0 until nDocs).map { i =>
      val lines = (0 until 40).map { j =>
        // even lines: shared across every doc (boilerplate, removed);
        // odd lines: unique per doc (kept)
        if (j % 2 == 0) f"shared-$j%02d-" + "b" * 110
        else f"uniq-$i%02d-$j%02d-" + "u" * 108
      }
      (i.toLong, "g", lines.mkString("\n"))
    }
    // parquet round-trip: the input arrives shuffle-free (an in-memory
    // repartition would add its own text-carrying exchange to the count)
    val src = java.nio.file.Files.createTempDirectory("boiler").toString
    rows.toDF("doc_id", "source", "text").repartition(4)
      .write.mode("overwrite").parquet(src)
    val df = spark.read.parquet(src)
    val out = DedupOps.removeBoilerplate(df, "doc_id", "text", "source")
    out.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val sizes = walk(out.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeExec => s.metrics("dataSize").value }
    val lineVolume = nDocs.toLong * 40 * 118
    assert(sizes.nonEmpty, "expected at least one exchange to execute")
    val fat = sizes.count(_ > lineVolume / 2)
    assert(fat <= 1,
      s"$fat exchanges carry text-sized payloads (${sizes.sorted.reverse}) " +
        s"— hashed keys must keep all but the reassembly exchange thin")
    assert(sizes.sum < lineVolume * 5 / 2,
      s"shuffled ${sizes.sum} bytes total — more than 2.5 text passes " +
        s"(line volume ~$lineVolume)")
    // and the hashed rewrite still removes exactly the shared lines
    val cleaned = out.select($"doc_id", $"clean_text")
      .as[(Long, String)].collect().toMap
    assert(cleaned.size == nDocs)
    assert(cleaned.values.forall(t =>
      t.split("\n").length == 20 && t.contains("uniq-") && !t.contains("shared-")))
  }

  test("incremental LSH probe pairs the batch against the persisted index, " +
      "extends it for the next batch, and never reports old-old pairs") {
    val idx = java.nio.file.Files.createTempDirectory("lshidx").toString + "/i"
    val t1 = (0 until 31).map(i => s"tok$i").mkString(" ")
    val t1x = t1 + " extratok" // J(t1, t1x) = 29/30 >= 0.8
    val t2 = (100 until 131).map(i => s"other$i").mkString(" ")
    DedupOps.minhashLshIndexBuild(
      Seq((1L, t1), (2L, t1x), (3L, t2)).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    // batch 1: an exact copy of doc 1 — pairs with BOTH corpus near-dups,
    // but the corpus' own (1,2) pair must not re-emit (old-old)
    val p1 = DedupOps.minhashLshIndexProbe(spark,
      Seq((101L, t1)).toDF("doc_id", "text"), "doc_id", "text", idx)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(p1 == Seq((1L, 101L), (2L, 101L)), p1.toString)
    // batch 2: another copy — must pair with the CORPUS docs and with
    // batch 1's doc (the probe extended the index)
    val p2 = DedupOps.minhashLshIndexProbe(spark,
      Seq((201L, t1)).toDF("doc_id", "text"), "doc_id", "text", idx)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(p2 == Seq((1L, 201L), (2L, 201L), (101L, 201L)), p2.toString)
    // extendIndex=false: a dry-run probe leaves the index untouched
    val dry = DedupOps.minhashLshIndexProbe(spark,
      Seq((301L, t2)).toDF("doc_id", "text"), "doc_id", "text", idx,
      extendIndex = false)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(dry == Seq((3L, 301L)), dry.toString)
    val p3 = DedupOps.minhashLshIndexProbe(spark,
      Seq((401L, t2)).toDF("doc_id", "text"), "doc_id", "text", idx)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(p3 == Seq((3L, 401L)),
      s"dry-run probe must not have extended the index: $p3")
    // an EMPTY batch is a clean no-op in both modes
    val before = graft.api.Collection(spark, s"$idx/sets").count()
    val emptyOut = DedupOps.minhashLshIndexProbe(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", idx).collect()
    assert(emptyOut.isEmpty)
    assert(graft.api.Collection(spark, s"$idx/sets").count() == before,
      "an empty batch changed the index")
  }

  test("LSH index probe is hit-proportional: on a large-index/small-batch " +
      "fixture no exchange carries index-cardinality payloads") {
    val idx = java.nio.file.Files.createTempDirectory("lshhp").toString + "/i"
    // 4000 unique corpus docs (64k band rows, ~31 distinct shingles each);
    // tonight's batch is 5 near-copies of corpus docs. A probe that
    // re-aggregates the full index shuffles all 64k band rows (~1.5 MB+)
    // and 4000 signature rows; a hit-proportional probe shuffles O(batch).
    val nIdx = 4000
    val corpus = (0 until nIdx).map { i =>
      (i.toLong, (0 until 31).map(j => s"c${i}w$j").mkString(" "))
    }
    DedupOps.minhashLshIndexBuild(corpus.toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val batch = (0 until 5).map { i =>
      (100000L + i, (0 until 31).map(j => s"c${i * 7}w$j").mkString(" ") +
        " extra")
    }
    val out = DedupOps.minhashLshIndexProbe(spark,
      batch.toDF("doc_id", "text"), "doc_id", "text", idx,
      extendIndex = false)
    val pairs = out.select($"doc_a", $"doc_b").as[(Long, Long)]
      .collect().sorted.toSeq
    assert(pairs == (0 until 5).map(i => (i * 7L, 100000L + i)).toSeq,
      pairs.toString)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val sizes = walk(out.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeExec => s.metrics("dataSize").value }
    // index bands alone are ~64k rows ≈ 1.5+ MB serialized; the batch's
    // bands are 80 rows. Everything that crosses an exchange must be
    // batch/hit-sized: total well under a tenth of the index volume.
    val idxBandBytes = nIdx.toLong * 16 * 24
    assert(sizes.sum < idxBandBytes / 10,
      s"probe shuffled ${sizes.sum} bytes (${sizes.sorted.reverse}) — " +
        s"index-cardinality rows are crossing an exchange " +
        s"(index band volume ~$idxBandBytes)")
  }

  test("live-gated probe is hit-proportional across ALL its jobs " +
      "(listener-measured, including the eager checkpoint stages)") {
    // The returned plan only shows the final verification subtree; the
    // live gate's candidate pipeline executes EAGERLY inside the probe
    // call (localCheckpoint jobs), invisible to plan walks. A Spark
    // listener totals shuffle-write bytes across every stage the probe
    // runs, so a regression that re-grows an index-cardinality exchange
    // anywhere in the gated pipeline fails here even though d31's bench
    // query number would not see it.
    val idx = java.nio.file.Files.createTempDirectory("lshlst").toString + "/i"
    val nIdx = 4000
    val corpus = (0 until nIdx).map { i =>
      (i.toLong, (0 until 31).map(j => s"c${i}w$j").mkString(" "))
    }
    DedupOps.minhashLshIndexBuild(corpus.toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val batch = (0 until 5).map { i =>
      (100000L + i, (0 until 31).map(j => s"c${i * 7}w$j").mkString(" ") +
        " extra")
    }
    val live = corpus.map(_._1).toDF("doc_id").localCheckpoint()
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        bytes.addAndGet(
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val pairs =
      try {
        val out = DedupOps.minhashLshIndexProbe(spark,
          batch.toDF("doc_id", "text"), "doc_id", "text", idx,
          extendIndex = false, live = Some(live))
          .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
        // listener events are delivered asynchronously — poll until the
        // accumulated total is STABLE (a fixed sleep can under-count on
        // a lagging bus and pass the byte bound vacuously)
        var prev = -1L
        var waited = 0
        while (waited < 20000 && (prev != bytes.get() || prev == 0L)) {
          prev = bytes.get(); Thread.sleep(500); waited += 500
        }
        out.sorted.toSeq
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(pairs == (0 until 5).map(i => (i * 7L, 100000L + i)).toSeq,
      pairs.toString)
    val idxBandBytes = nIdx.toLong * 16 * 24
    assert(bytes.get() < idxBandBytes / 10,
      s"live-gated probe shuffled ${bytes.get()} bytes across all jobs " +
        s"— index-cardinality rows are crossing an exchange somewhere " +
        s"in the gated pipeline (index band volume ~$idxBandBytes)")
  }

  test("LSH index probe is delete-aware with `live`, and sweepLshIndex " +
      "physically removes dead docs while preserving a concurrent extend") {
    val wh = java.nio.file.Files.createTempDirectory("lshda").toString
    val idx = s"$wh/i"
    val t1 = (0 until 31).map(i => s"tok$i").mkString(" ")
    val t2 = (100 until 131).map(i => s"oth$i").mkString(" ")
    // base collection: docs 1 (t1), 2 (t1 near-copy), 3 (t2)
    val coll = graft.api.Collection.create(spark, s"$wh/docs",
      Seq((1L, t1), (2L, t1 + " xtra"), (3L, t2)).toDF("doc_id", "text"),
      key = Some("doc_id"))
    DedupOps.minhashLshIndexBuild(coll.toDF(), "doc_id", "text", idx)
    // doc 1 is deleted from the base AFTER the index was built
    coll.delete(1L)
    val batch = Seq((101L, t1)).toDF("doc_id", "text")
    // without `live` the stale index pairs the batch with the dead doc
    val stale = DedupOps.minhashLshIndexProbe(spark, batch,
      "doc_id", "text", idx, extendIndex = false)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(stale == Seq((1L, 101L), (2L, 101L)), stale.toString)
    // with `live` the dead side is dropped before verification
    val liveOnly = DedupOps.minhashLshIndexProbe(spark, batch,
      "doc_id", "text", idx, extendIndex = false,
      live = Some(coll.ids()))
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(liveOnly == Seq((2L, 101L)),
      s"probe paired against a deleted corpus doc: $liveOnly")
    // sweep pinned to the manifest version BEFORE a concurrent
    // extension commits: the replace protocol must PRESERVE the
    // extension's appended segments instead of silently erasing them
    val setsColl = graft.api.Collection(spark, s"$idx/sets")
    val m0 = graft.meta.CollectionMeta.currentManifest(
      java.nio.file.Paths.get(s"$idx/sets"))
    // concurrent extension lands between the sweep's pin and its commit
    DedupOps.minhashLshIndexProbe(spark, batch, "doc_id", "text", idx)
      .collect()
    val liveIds = coll.ids()
      .select($"doc_id").localCheckpoint()
    val swept = DedupOps.sweepIndexTable(setsColl, liveIds, m0)
    assert(swept == 1L, s"sweep must remove exactly the dead doc: $swept")
    val setIds = setsColl.scan()
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(setIds == Seq(2L, 3L, 101L),
      s"sweep lost the concurrent extension or kept the dead doc: $setIds")
    // and the full verb sweeps bands too: a fresh probe (no `live`)
    // now cannot pair with the swept doc
    DedupOps.sweepLshIndex(spark, idx,
      coll.ids().unionByName(Seq(101L).toDF("doc_id")))
    val after = DedupOps.minhashLshIndexProbe(spark,
      Seq((201L, t1)).toDF("doc_id", "text"), "doc_id", "text", idx,
      extendIndex = false)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(after == Seq((2L, 201L), (101L, 201L)),
      s"swept doc still pairs: $after")
  }

  test("LSH index extension is idempotent under retry and keeps the " +
      "index's segment count bounded across many ingests") {
    val idx = java.nio.file.Files.createTempDirectory("lshbd").toString + "/i"
    val mk = (salt: Int) =>
      (0 until 31).map(j => s"s${salt}w$j").mkString(" ")
    DedupOps.minhashLshIndexBuild(
      Seq((1L, mk(0))).toDF("doc_id", "text"), "doc_id", "text", idx)
    def setsColl() = graft.api.Collection(spark, s"$idx/sets")
    def setsSegs() = graft.meta.CollectionMeta.currentManifest(
      java.nio.file.Paths.get(s"$idx/sets")).segments.size
    // retry idempotency: the same batch extended twice lands once
    val b1 = Seq((10L, mk(1))).toDF("doc_id", "text")
    DedupOps.minhashLshIndexProbe(spark, b1, "doc_id", "text", idx,
      maxIndexFiles = 4).collect()
    val once = setsColl().count()
    DedupOps.minhashLshIndexProbe(spark, b1, "doc_id", "text", idx,
      maxIndexFiles = 4).collect()
    assert(setsColl().count() == once,
      "a retried extension duplicated index rows")
    // bounded segments: many ingests never push the index past the
    // compaction threshold + one ingest's worth of fresh appends
    val perIngest = setsSegs()
    (2 to 12).foreach { i =>
      DedupOps.minhashLshIndexProbe(spark,
        Seq((10L * i, mk(i))).toDF("doc_id", "text"),
        "doc_id", "text", idx, maxIndexFiles = 4).collect()
      assert(setsSegs() <= 4 + perIngest,
        s"ingest $i left ${setsSegs()} segments (threshold 4)")
    }
    // and the data survived every compaction
    val ids = setsColl().scan()
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids == (Seq(1L, 10L) ++ (2 to 12).map(_ * 10L)).sorted,
      ids.toString)
  }

  test("LSH index extension is mutation-aware: a re-crawled doc re-pairs " +
      "under its new text, its stale pairs stop emitting, and retries " +
      "reproduce the original probe output") {
    val idx = java.nio.file.Files.createTempDirectory("lshmut").toString + "/i"
    val tA = (0 until 31).map(i => s"a$i").mkString(" ")
    val tB = (0 until 31).map(i => s"b$i").mkString(" ")
    def probe(rows: Seq[(Long, String)]) =
      DedupOps.minhashLshIndexProbe(spark, rows.toDF("doc_id", "text"),
        "doc_id", "text", idx)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    def setsCount() = graft.api.Collection(spark, s"$idx/sets").count()
    // corpus: doc 1 carries its PRE-CRAWL text (tA); doc 2 near-dups tB
    DedupOps.minhashLshIndexBuild(
      Seq((1L, tA), (2L, tB + " x")).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    // batch 1: doc 101 near-dups tA — pairs with doc 1's stored text
    assert(probe(Seq((101L, tA + " y"))) == Seq((1L, 101L)))
    // RE-CRAWL: doc 1's content changed to tB — same id, new text. The
    // probe must score it under tB (pairing with doc 2), never under
    // its stale tA signature (no pair with 101)
    val p2 = probe(Seq((1L, tB)))
    assert(p2 == Seq((1L, 2L)), s"re-crawled doc paired wrong: $p2")
    assert(setsCount() == 3L,
      s"mutation must replace, not duplicate: ${setsCount()} sets rows")
    // RETRY of the committed mutation batch (the crash model: a retry
    // runs BEFORE any later window probes): the probe output must
    // reproduce the original run exactly (no 2-4x duplicate pairs from
    // the doc's own index copy) and the extension must stay a no-op
    val p2Retry = probe(Seq((1L, tB)))
    assert(p2Retry == p2, s"retried probe diverged: $p2Retry vs $p2")
    assert(setsCount() == 3L, "a retried mutation changed the index")
    // the index now serves the NEW content: a batch near tA pairs only
    // with 101 (the stale (1, ·) signature is gone)...
    val p3 = probe(Seq((301L, tA)))
    assert(p3 == Seq((101L, 301L)), s"stale signature still pairs: $p3")
    // ...and a batch near tB pairs with 1 and 2
    val p4 = probe(Seq((401L, tB + " z")))
    assert(p4 == Seq((1L, 401L), (2L, 401L)), p4.toString)
    // CRASH HEAL: simulate a mutating ingest that died right after its
    // FIRST commit (the sets DV-delete) — the retry must converge both
    // tables: sets sees the id absent (plain re-append), bands sees its
    // own band-hash mismatch (delete + re-append), and no table ends up
    // with duplicate live rows
    val cidx = java.nio.file.Files.createTempDirectory("lshcrash")
      .toString + "/i"
    DedupOps.minhashLshIndexBuild(
      Seq((1L, tA), (2L, tB + " x")).toDF("doc_id", "text"),
      "doc_id", "text", cidx)
    graft.spark.HadroDeleteSupport.dvDeleteWhere(
      java.nio.file.Paths.get(s"$cidx/sets"), $"doc_id" === 1L)
    val healed = DedupOps.minhashLshIndexProbe(spark,
      Seq((1L, tB)).toDF("doc_id", "text"), "doc_id", "text", cidx)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(healed == Seq((1L, 2L)), s"crash retry mis-paired: $healed")
    assert(graft.api.Collection(spark, s"$cidx/sets").count() == 2L)
    val bandRows = graft.api.Collection(spark, s"$cidx/bands").toDF()
      .filter($"doc_id" === 1L).count()
    assert(bandRows == 16L,
      s"crash heal left $bandRows live band rows for the doc (want 16)")
    // embedding twin: the shared core serves the vector modality too
    val eidx = java.nio.file.Files.createTempDirectory("embmut").toString + "/i"
    val u = Seq.tabulate(8)(i => (i + 1).toFloat)
    val w = Seq.tabulate(8)(i => (8 - i).toFloat)
    DedupOps.embeddingIndexBuild(
      Seq((1L, u), (2L, w.map(_ * 1.01f))).toDF("vec_id", "emb"),
      "vec_id", "emb", eidx, bits = 8, numBands = 4)
    def eprobe(rows: Seq[(Long, Seq[Float])]) =
      DedupOps.embeddingIndexProbe(spark, rows.toDF("vec_id", "emb"),
        "vec_id", "emb", eidx)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().sorted.toSeq
    assert(eprobe(Seq((101L, u))) == Seq((1L, 101L)))
    // vec 1's embedding is re-computed in a new direction (w)
    assert(eprobe(Seq((1L, w))) == Seq((1L, 2L)))
    // and probes now see the new direction only
    assert(eprobe(Seq((201L, u.map(_ * 2f)))) == Seq((101L, 201L)))
  }

  test("incremental connected components fold pair windows into the " +
      "persisted membership state: merges re-root whole clusters, " +
      "retries are no-ops, crash duplicates min-resolve") {
    val st = java.nio.file.Files.createTempDirectory("icc").toString + "/s"
    def comps() = ClusterOps.components(spark, st)
      .as[(Long, Long)].collect().sorted.toSeq
    // window 1: two separate clusters {10,11} and {20,21}
    ClusterOps.componentsUpdate(spark,
      Seq((10L, 11L), (20L, 21L)).toDF("a", "b"), "a", "b", st)
    assert(comps() == Seq((10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L)))
    // window 2: a bridging pair MERGES them — cluster {20,21} must
    // re-root to 10 even though neither 20 nor 21 is in the batch's
    // touched docs beyond the bridge
    ClusterOps.componentsUpdate(spark,
      Seq((11L, 21L)).toDF("a", "b"), "a", "b", st)
    assert(comps() ==
      Seq((10L, 10L), (11L, 10L), (20L, 10L), (21L, 10L)),
      s"merge did not re-root the absorbed cluster: ${comps()}")
    // retry of the same window: idempotent (no appended rows); an empty
    // window is equally a no-op
    assert(ClusterOps.componentsUpdate(spark,
      Seq((11L, 21L)).toDF("a", "b"), "a", "b", st) == 0L)
    assert(ClusterOps.componentsUpdate(spark,
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b", st) == 0L)
    assert(comps() ==
      Seq((10L, 10L), (11L, 10L), (20L, 10L), (21L, 10L)))
    // window 3: a FRESH doc with a smaller id becomes the new root of
    // the whole merged component
    ClusterOps.componentsUpdate(spark,
      Seq((5L, 21L)).toDF("a", "b"), "a", "b", st)
    assert(comps() == Seq((5L, 5L), (10L, 5L), (11L, 5L),
      (20L, 5L), (21L, 5L)), comps().toString)
    // crash shape: a duplicate (stale-root) row planted directly —
    // reads min-resolve, and the next update sweeps it
    graft.api.Collection(spark, st)
      .append(Seq((20L, 20L)).toDF("doc_id", "cluster"))
    assert(comps().contains((20L, 5L)),
      s"duplicate row broke min-resolution: ${comps()}")
    ClusterOps.componentsUpdate(spark,
      Seq((20L, 21L)).toDF("a", "b"), "a", "b", st)
    val raw = graft.api.Collection(spark, st).scan()
      .filter($"doc_id" === 20L).count()
    assert(raw == 1L, s"retried update left $raw live rows for doc 20")
    assert(comps() == Seq((5L, 5L), (10L, 5L), (11L, 5L),
      (20L, 5L), (21L, 5L)))
  }

  test("duplicate batch ids dedupe deterministically; a probe reads its " +
      "banding from the index's params sidecar") {
    val idx = java.nio.file.Files.createTempDirectory("lshdup").toString + "/i"
    val tA = (0 until 31).map(i => s"a$i").mkString(" ")
    val tB = (0 until 31).map(i => s"b$i").mkString(" ")
    def probe(rows: Seq[(Long, String)]) =
      DedupOps.minhashLshIndexProbe(spark, rows.toDF("doc_id", "text"),
        "doc_id", "text", idx)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    def setsRows() = graft.api.Collection(spark, s"$idx/sets").count()
    // NON-DEFAULT banding at build: probes must pick it up from the
    // params sidecar — with hardcoded defaults the (band, band_hash)
    // join would match nothing and planted pairs would vanish
    DedupOps.minhashLshIndexBuild(
      Seq((1L, tA), (2L, tB)).toDF("doc_id", "text"),
      "doc_id", "text", idx, shingleK = 3, numHashes = 128, bands = 32)
    assert(probe(Seq((101L, tA + " x"))) == Seq((1L, 101L)),
      "probe did not read banding from the params sidecar")
    // a batch carrying one id twice (exact dup + conflicting content)
    // keeps exactly ONE deterministic row and writes one index row
    val dup = Seq((201L, tA), (201L, tA), (202L, tA), (202L, tB))
    val out = probe(dup)
    assert(setsRows() == 5L,
      s"duplicate batch ids multiplied index rows: ${setsRows()}")
    // re-ingesting the id must not emit duplicate pairs or drop the doc
    val again = probe(Seq((201L, tA)))
    assert(again == again.distinct, s"duplicate pairs: $again")
    assert(setsRows() == 5L, "a retried duplicate id changed the index")
    out // consumed above; silence unused warning
    // cross-modality misuse fails with directions, not garbage scores
    val eidx = java.nio.file.Files.createTempDirectory("xmod").toString + "/i"
    DedupOps.embeddingIndexBuild(
      Seq((1L, Seq.tabulate(4)(_.toFloat))).toDF("vec_id", "emb"),
      "vec_id", "emb", eidx, bits = 4, numBands = 2)
    val e1 = intercept[IllegalArgumentException](
      DedupOps.minhashLshIndexProbe(spark,
        Seq((9L, tA)).toDF("doc_id", "text"), "doc_id", "text", eidx,
        extendIndex = false))
    assert(e1.getMessage.contains("not a MinHash"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      DedupOps.embeddingIndexProbe(spark,
        Seq((9L, Seq(1f, 2f, 3f, 4f))).toDF("vec_id", "emb"),
        "vec_id", "emb", idx, extendIndex = false))
    assert(e2.getMessage.contains("not a sign-LSH"), e2.getMessage)
  }

  test("keepList picks the smallest LIVE member per cluster and drops " +
      "fully-dead clusters") {
    val st = java.nio.file.Files.createTempDirectory("kl").toString + "/s"
    ClusterOps.componentsUpdate(spark,
      Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("a", "b"), "a", "b", st)
    // no live filter: min member is kept
    val all = ClusterOps.keepList(spark, st)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(all == Seq((10L, 10L, 3L), (20L, 20L, 2L)), all.toString)
    // doc 10 taken down: cluster 10's representative moves to the
    // smallest SURVIVOR; cluster 20 fully dead disappears
    val live = Seq(11L, 12L).toDF("doc_id")
    val filtered = ClusterOps.keepList(spark, st, Some(live))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(filtered == Seq((10L, 11L, 2L)), filtered.toString)
  }

  test("incremental components over hash-sliced windows equal the " +
      "one-shot batch components") {
    val st = java.nio.file.Files.createTempDirectory("iccw").toString + "/s"
    // chain graph, broken every 10 ids (the d12 shape, smaller)
    val n = 200
    val pairs = (0 until n).filter(_ % 10 != 9)
      .map(i => (i.toLong, i.toLong + 1L))
    (0 until 3).foreach { w =>
      val slice = pairs.filter { case (a, _) =>
        java.lang.Long.remainderUnsigned(
          scala.util.hashing.MurmurHash3.stringHash(a.toString).toLong, 3) == w
      }
      ClusterOps.componentsUpdate(spark, slice.toDF("a", "b"), "a", "b", st)
    }
    val inc = ClusterOps.components(spark, st)
      .as[(Long, Long)].collect().sorted.toSeq
    val batch = ClusterOps.connectedComponentsAltStar(
      pairs.toDF("a", "b"), "a", "b")
      .select($"node", $"cluster").as[(Long, Long)].collect().sorted.toSeq
    assert(inc == batch, "windowed fold diverged from one-shot components")
  }

  test("randomized OVERLAPPING pair windows converge components to the " +
      "one-shot batch answer (at-least-once delivery)") {
    // The pair stream upstream is at-least-once (a retried probe
    // re-emits its pairs): windows here are random OVERLAPPING subsets
    // — the same pair delivered in several windows must fold to the
    // exact one-shot answer, not multiply or re-root spuriously.
    val rnd = new scala.util.Random(7)
    val st = java.nio.file.Files.createTempDirectory("iccr").toString + "/s"
    val ids = (0 until 30).map(_.toLong)
    val all = (0 until 40).map { _ =>
      val a = ids(rnd.nextInt(ids.size)); val b = ids(rnd.nextInt(ids.size))
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    (0 until 5).foreach { w =>
      // each window: a random ~40% sample, plus (last window) whatever
      // never got delivered — union over windows covers every pair
      val slice =
        if (w < 4) all.filter(_ => rnd.nextDouble() < 0.4)
        else all
      if (slice.nonEmpty)
        ClusterOps.componentsUpdate(spark, slice.toDF("a", "b"), "a", "b", st)
      ()
    }
    val inc = ClusterOps.components(spark, st)
      .as[(Long, Long)].collect().sorted.toSeq
    val batch = ClusterOps.connectedComponentsAltStar(
      all.toDF("a", "b"), "a", "b")
      .select($"node", $"cluster").as[(Long, Long)].collect().sorted.toSeq
    assert(inc == batch,
      "overlapping at-least-once windows diverged from one-shot components")
    // and the physical state is duplicate-free after the final window
    val raw = graft.api.Collection(spark, st).scan().count()
    assert(raw == inc.size.toLong,
      s"state holds $raw rows for ${inc.size} docs")
  }

  test("randomized ingest/mutation sequences converge the index to the " +
      "fresh-build state, across forced compactions") {
    // The mutation contract's closure property: after ANY serialized
    // sequence of probe+extend windows — fresh ids, unchanged retries,
    // changed re-crawls, interleaved with segment compactions — the
    // physical index must equal one built from the docs' FINAL states
    // (same sets rows by (id, sig, payload-fp), same band rows). This is
    // what makes the nightly loop safe to run forever: no stale row
    // survives, no duplicate resurfaces out of a compaction rewrite of
    // DV-masked segments.
    val rnd = new scala.util.Random(42)
    val wh = java.nio.file.Files.createTempDirectory("lshconv").toString
    val idx = s"$wh/i"
    def text(seed: Int) = (0 until 31).map(j => s"w${seed}_$j").mkString(" ")
    DedupOps.minhashLshIndexBuild(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val current = scala.collection.mutable.Map[Long, Int]()
    (0 until 6).foreach { _ =>
      val batch = (0 until 8).map { _ =>
        val id = rnd.nextInt(12).toLong
        val seed =
          if (rnd.nextBoolean() && current.contains(id)) current(id)
          else rnd.nextInt(1000)
        id -> seed
      }.toMap // unique ids per window (a batch carries one row per id)
      batch.foreach { case (id, sd) => current(id) = sd }
      // maxIndexFiles = 3 forces bin-pack compactions mid-sequence, so
      // the rewrite path must drop DV-masked rows instead of reviving
      DedupOps.minhashLshIndexProbe(spark,
        batch.toSeq.map { case (i, sd) => (i, text(sd)) }
          .toDF("doc_id", "text"),
        "doc_id", "text", idx, maxIndexFiles = 3).collect()
    }
    val fresh = s"$wh/f"
    DedupOps.minhashLshIndexBuild(
      current.toSeq.map { case (i, sd) => (i, text(sd)) }
        .toDF("doc_id", "text"),
      "doc_id", "text", fresh)
    def setsOf(p: String) = graft.api.Collection(spark, s"$p/sets").scan()
      .select($"doc_id", $"sig_h", xxhash64($"payload"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    def bandsOf(p: String) = graft.api.Collection(spark, s"$p/bands").scan()
      .select($"doc_id", $"band", $"band_hash")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(setsOf(idx) == setsOf(fresh),
      "sets diverged from the fresh-build state")
    assert(bandsOf(idx) == bandsOf(fresh),
      "bands diverged from the fresh-build state")
  }

  test("concurrent mutating ingests serialize on the ingest lease and " +
      "jointly reproduce the one-shot batch pairs; unfenced racing pins " +
      "provably miss the cross pairs") {
    val base = (0 until 31).map(i => s"w$i").mkString(" ")
    val batchA = Seq((100L, base + " aa"))
    val batchB = Seq((200L, base + " bb"))
    def build(): String = {
      val idx = java.nio.file.Files.createTempDirectory("lshcc").toString + "/i"
      DedupOps.minhashLshIndexBuild(Seq((1L, base)).toDF("doc_id", "text"),
        "doc_id", "text", idx)
      idx
    }
    def probe(idx: String, rows: Seq[(Long, String)],
        extend: Boolean = true): Set[(Long, Long)] =
      DedupOps.minhashLshIndexProbe(spark, rows.toDF("doc_id", "text"),
        "doc_id", "text", idx, extendIndex = extend)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    // ground truth: the one-shot batch over A ∪ B
    val oneShot = probe(build(), batchA ++ batchB)
    assert(oneShot == Set((1L, 100L), (1L, 200L), (100L, 200L)), oneShot)
    // LEASED (default): two threads probe+extend CONCURRENTLY; the
    // lease serializes them in some order, and by the d32 loop≡batch
    // composition either order jointly enumerates exactly the one-shot
    // pairs — the A×B cross pair emits on whichever ingest runs second
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // under BOTH FileIO impls: flock locally, the conditional-PUT lease
    // on object-store semantics — the lock seam the lease rides
    underEachFileIO { tag =>
      val idx = build()
      val fA = Future(probe(idx, batchA))
      val fB = Future(probe(idx, batchB))
      val joint = Await.result(fA, 120.seconds) ++ Await.result(fB, 120.seconds)
      assert(joint == oneShot,
        s"[$tag] leased concurrent ingests diverged from the one-shot " +
          s"batch: $joint")
    }
    // UNFENCED: two racing ingests each pin a version that excludes the
    // other's uncommitted extend — deterministically simulated by
    // dry-running both against the SAME starting version (exactly what
    // each racer's pinned probe sees). The union misses the A×B cross
    // pair: the race the lease exists to prevent.
    val idx2 = build()
    val racersView = probe(idx2, batchA, extend = false) ++
      probe(idx2, batchB, extend = false)
    assert(racersView == Set((1L, 100L), (1L, 200L)),
      s"unexpected racing-pin view: $racersView")
    assert(!racersView.contains((100L, 200L)),
      "the unfenced race must miss the cross pair — if it stops missing, " +
        "the lease (and this contract spec) are stale")
  }

  test("composed ingest loop: pairsSink persists each window's pairs " +
      "exactly once across retries, componentsCycle folds the changefeed " +
      "at-least-once safely, and the final keep list equals the batch") {
    // the pairsSink epoch stamp and the cursor tag both ride manifest
    // commits through the FileIO seam — prove the protocol under POSIX
    // and object-store semantics alike
    underEachFileIO { fio =>
    info(s"FileIO impl: $fio")
    val wh = java.nio.file.Files.createTempDirectory("composed").toString
    val idx = s"$wh/idx"; val pairsP = s"$wh/pairs"; val st = s"$wh/state"
    val base = (0 until 31).map(i => s"w$i").mkString(" ")
    val base2 = (0 until 31).map(i => s"z$i").mkString(" ")
    val docs = Map(1L -> base, 2L -> base2, 100L -> (base + " aa"),
      200L -> (base + " bb"), 300L -> (base + " cc"),
      400L -> (base2 + " aa"))
    DedupOps.minhashLshIndexBuild(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", idx)
    def window(w: Long, ids: Seq[Long]): Unit = {
      DedupOps.minhashLshIndexProbe(spark,
        ids.map(i => (i, docs(i))).toDF("doc_id", "text"),
        "doc_id", "text", idx, pairsSink = Some((pairsP, w))).collect()
      ClusterOps.componentsCycle(spark, pairsP, "cc_cur", st)
      ()
    }
    window(0L, Seq(1L, 2L))   // no pairs yet — cycle must tolerate that
    window(1L, Seq(100L, 400L))
    window(2L, Seq(200L, 300L))
    def pairRows() = graft.api.Collection(spark, pairsP).toDF()
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    val afterLoop = pairRows()
    // one-shot ground truth over the full corpus
    val oneShot = DedupOps.minhashLshPairs(
      docs.toSeq.map { case (i, t) => (i, t) }.toDF("doc_id", "text"),
      "doc_id", "text")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(afterLoop == oneShot,
      s"persisted pair stream diverged: $afterLoop vs $oneShot")
    // crash-retry of the LAST window (same windowId, same batch): the
    // epoch stamp on the pairs commit skips the re-append — zero
    // duplicate pairs — and the index extension stays idempotent
    DedupOps.minhashLshIndexProbe(spark,
      Seq(200L, 300L).map(i => (i, docs(i))).toDF("doc_id", "text"),
      "doc_id", "text", idx, pairsSink = Some((pairsP, 2L))).collect()
    assert(pairRows() == oneShot,
      s"retried window duplicated persisted pairs: ${pairRows()}")
    // crash between fold and tag move: rewind the cursor, re-cycle —
    // the refold is a provable no-op (idempotent edges)
    val pc = graft.api.Collection(spark, pairsP)
    val head = pc.tags("cc_cur")
    pc.createTag("cc_cur", 1L)
    ClusterOps.componentsCycle(spark, pairsP, "cc_cur", st)
    assert(pc.tags("cc_cur") == head, "replayed cycle must re-advance")
    val members = ClusterOps.components(spark, st)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(members == Seq((1L, 1L), (2L, 2L), (100L, 1L), (200L, 1L),
      (300L, 1L), (400L, 2L)), members.toString)
    val raw = graft.api.Collection(spark, st).scan().count()
    assert(raw == members.size.toLong,
      s"replayed fold left duplicate state rows: $raw")
    val kl = ClusterOps.keepList(spark, st)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(kl == Seq((1L, 1L, 4L), (2L, 2L, 2L)), kl.toString)
    }
  }

  test("randomized composed-pipeline sequences (window retries, batched " +
      "or rewound consumer cycles, interleaved compactions and legal " +
      "pair-log star sweeps) converge the pair log and keep list to the " +
      "one-shot batch answer") {
    // The whole-protocol closure property: ANY serialized sequence of
    // probe+extend windows with pairsSink — immediate crash retries of a
    // window (same windowId), consumer cycles that batch several windows
    // or replay after a lost tag move, pair-log bin-packing mid-sequence,
    // and sweepPairs whenever (and ONLY whenever) the cursor certifies
    // the log consumed — must leave (a) the pair log holding the
    // one-shot batch pairs EXACTLY ONCE (or, once a sweep rewrote it,
    // duplicate-free with the SAME transitive closure) and (b) the
    // membership/keep list equal to one-shot CC + keep over them.
    // Seed-pinned for reproducibility.
    val rnd = new scala.util.Random(17)
    val wh = java.nio.file.Files.createTempDirectory("composedrand").toString
    val idx = s"$wh/idx"; val pairsP = s"$wh/pairs"; val st = s"$wh/state"
    val kp = s"$wh/keep"
    var swept = false
    def text(seed: Int) = (0 until 31).map(j => s"w${seed}_$j").mkString(" ")
    // 18 docs in 6 near-dup families of 3 (same family = same base text
    // + one distinct token => pairwise Jaccard well above 0.8)
    val docs = (0 until 18).map(i => (i.toLong, text(i % 6) + s" x$i"))
    DedupOps.minhashLshIndexBuild(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", idx)
    val slices = rnd.shuffle(docs).grouped(4).toSeq
    slices.zipWithIndex.foreach { case (batch, w) =>
      def ingest(): Unit = DedupOps.minhashLshIndexProbe(spark,
        batch.toDF("doc_id", "text"), "doc_id", "text", idx,
        maxIndexFiles = 3, pairsSink = Some((pairsP, w.toLong))).collect()
      // early windows may emit no pairs at all — the log doesn't exist
      // yet then, and every maintenance/consumer verb must tolerate that
      def logExists = try graft.meta.CollectionMeta.readSchema(
        java.nio.file.Paths.get(pairsP)).isDefined
        catch { case _: Exception => false }
      ingest()
      if (rnd.nextBoolean()) ingest() // crash retry: same window id
      if (rnd.nextDouble() < 0.3 && logExists)
        graft.api.Collection(spark, pairsP).compactSmall(1L << 30)
      if (rnd.nextBoolean()) {
        ClusterOps.componentsCycle(spark, pairsP, "cr_cur", st,
          keepPath = Some(kp))
        if (rnd.nextBoolean() && logExists) { // lost tag move: rewind
          val pc = graft.api.Collection(spark, pairsP)
          pc.createTag("cr_cur", math.max(1L, pc.tags("cr_cur") - 1))
          ClusterOps.componentsCycle(spark, pairsP, "cr_cur", st,
            keepPath = Some(kp))
        }
      }
      // retention interleaves with everything else: sweep when the
      // cursor certifies consumption, and PROVE the refusal when it
      // does not (no tag yet, or a tag below the head)
      if (rnd.nextDouble() < 0.25 && logExists) {
        val pc = graft.api.Collection(spark, pairsP)
        if (pc.tags.get("cr_cur").exists(_ >= pc.version)) {
          ClusterOps.sweepPairs(spark, pairsP, st)
          swept = true
        } else
          intercept[IllegalStateException](
            ClusterOps.sweepPairs(spark, pairsP, st))
      }
    }
    ClusterOps.componentsCycle(spark, pairsP, "cr_cur", st,
      keepPath = Some(kp)) // drain
    val logged = graft.api.Collection(spark, pairsP).toDF()
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    val oneShot = DedupOps.minhashLshPairs(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    val batchCC = ClusterOps.connectedComponentsAltStar(
      oneShot.toDF("a", "b"), "a", "b")
      .select($"node", $"cluster").as[(Long, Long)].collect().sorted.toSeq
    // (a) the pair log = the one-shot batch pairs, exactly once; after
    // a star sweep content equality is gone BY DESIGN, so the claim
    // becomes duplicate-free + closure-identical
    if (!swept)
      assert(logged == oneShot,
        s"pair log diverged from one-shot (dupes or losses): " +
          s"${logged.diff(oneShot)} extra, ${oneShot.diff(logged)} missing")
    else {
      assert(logged == logged.distinct,
        s"swept pair log carries duplicates: $logged")
      val logCC = ClusterOps.connectedComponentsAltStar(
        logged.toDF("a", "b"), "a", "b")
        .select($"node", $"cluster").as[(Long, Long)].collect().sorted.toSeq
      assert(logCC == batchCC,
        "swept pair log's closure diverged from the one-shot pairs")
    }
    // (b) membership/keep equal one-shot CC over those pairs
    val inc = ClusterOps.components(spark, st)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(inc == batchCC,
      "randomized composed loop diverged from one-shot components")
    // (c) the materialized keep-list tracked the read-side view through
    // every retry/rewind/compaction in the sequence
    val mat = ClusterOps.keepListMaterialized(spark, kp)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val readSide = ClusterOps.keepList(spark, st)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(mat == readSide,
      s"materialized keep-list diverged: $mat vs $readSide")
    // the pinned seed must actually exercise the sweep path, or this
    // property silently stops covering retention
    assert(swept, "seed 17 no longer drives an at-head sweepPairs — " +
      "re-pin a seed that exercises the retention interleaving")
  }

  test("pairs-log compaction is transparent to a tagged consumer, and " +
      "state/keep collections stay segment-bounded across many windows") {
    val wh = java.nio.file.Files.createTempDirectory("ccbound").toString
    val pairsP = s"$wh/pairs"; val st = s"$wh/state"; val kp = s"$wh/keep"
    def segs(p: String) = graft.meta.CollectionMeta.currentManifest(
      java.nio.file.Paths.get(p)).segments.size
    // window 1 folds, then the pair log BIN-PACKS (the probe's
    // maintenance); window 2's cycle must read its changefeed window
    // THROUGH the compaction instead of re-reading or losing commits
    Seq((10L, 11L), (20L, 21L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("append").save(pairsP)
    ClusterOps.componentsCycle(spark, pairsP, "cur", st, keepPath = Some(kp))
    graft.api.Collection(spark, pairsP).compactSmall(1L << 30)
    Seq((11L, 21L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("append").save(pairsP)
    ClusterOps.componentsCycle(spark, pairsP, "cur", st, keepPath = Some(kp))
    val m = ClusterOps.components(spark, st)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(m == Seq((10L, 10L), (11L, 10L), (20L, 10L), (21L, 10L)),
      s"cycle across pairs compaction diverged: $m")
    val kl = ClusterOps.keepListMaterialized(spark, kp)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(kl == Seq((10L, 10L, 4L)), kl.toString)
    // a nightly loop appends a few rows per window FOREVER: with the
    // bin-pack threshold the state/keep segment counts stay bounded
    // while every fold stays exact (chain graph, one window per edge)
    val st2 = s"$wh/state2"; val kp2 = s"$wh/keep2"
    (0 until 12).foreach { i =>
      ClusterOps.componentsUpdate(spark,
        Seq((i.toLong, i.toLong + 1L)).toDF("a", "b"), "a", "b", st2,
        keepPath = Some(kp2), maxStateFiles = 3)
      ()
    }
    assert(segs(st2) <= 4, s"state segments unbounded: ${segs(st2)}")
    assert(segs(kp2) <= 4, s"keep segments unbounded: ${segs(kp2)}")
    val chain = ClusterOps.components(spark, st2)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(chain == (0L to 12L).map(i => (i, 0L)),
      s"bounded-segment folds diverged: $chain")
    val kl2 = ClusterOps.keepListMaterialized(spark, kp2)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(kl2 == Seq((0L, 0L, 13L)), kl2.toString)
  }

  test("materialized keep-list tracks the read-side keepList across " +
      "windows (merged-away roots tombstone) and sweepComponents " +
      "re-roots to live members, healing both tables") {
    val wh = java.nio.file.Files.createTempDirectory("mkeep").toString
    val st = s"$wh/state"; val kp = s"$wh/keep"
    def mat() = ClusterOps.keepListMaterialized(spark, kp)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    def readSide(live: Option[org.apache.spark.sql.DataFrame] = None) =
      ClusterOps.keepList(spark, st, live)
        .as[(Long, Long, Long)].collect().sorted.toSeq
    // window 1: two separate clusters
    ClusterOps.componentsUpdate(spark,
      Seq((10L, 11L), (20L, 21L)).toDF("a", "b"), "a", "b", st,
      keepPath = Some(kp))
    assert(mat() == Seq((10L, 10L, 2L), (20L, 20L, 2L)), mat().toString)
    assert(mat() == readSide())
    // window 2: bridge pair MERGES them — root 20 must tombstone out of
    // the materialized list, not linger as a phantom cluster
    ClusterOps.componentsUpdate(spark,
      Seq((11L, 20L)).toDF("a", "b"), "a", "b", st, keepPath = Some(kp))
    assert(mat() == Seq((10L, 10L, 4L)), mat().toString)
    assert(mat() == readSide())
    // window 3: an untouched new cluster joins; old rows stand
    ClusterOps.componentsUpdate(spark,
      Seq((30L, 31L), (31L, 32L)).toDF("a", "b"), "a", "b", st,
      keepPath = Some(kp))
    assert(mat() == Seq((10L, 10L, 4L), (30L, 30L, 3L)), mat().toString)
    assert(mat() == readSide())
    // takedowns: 10 (a root!) and 31 die; 20,21 of cluster 10 also die
    val live = Seq(11L, 30L, 32L).toDF("doc_id")
    val expect = readSide(Some(live))
    val swept = ClusterOps.sweepComponents(spark, st, live,
      keepPath = Some(kp))
    assert(swept == 4L, s"swept $swept rows, expected 4 (docs 10,20,21,31)")
    // post-sweep: read-side with NO live filter equals the pre-sweep
    // live-filtered view on (keep_id, n_members); labels re-rooted to
    // the min LIVE member so dead ids left the state entirely
    val after = readSide()
    assert(after.map(t => (t._2, t._3)).sorted ==
      expect.map(t => (t._2, t._3)).sorted,
      s"sweep changed representatives: $after vs $expect")
    assert(after == Seq((11L, 11L, 1L), (30L, 30L, 2L)), after.toString)
    assert(mat() == after, s"materialized diverged post-sweep: ${mat()}")
    val deadLeft = ClusterOps.components(spark, st)
      .filter($"doc_id".isin(10L, 20L, 21L, 31L) ||
        $"cluster".isin(10L, 20L, 21L, 31L)).count()
    assert(deadLeft == 0L, "dead ids survived the sweep (as member or label)")
    // and the loop continues soundly from the swept state: a pair
    // bridging the re-rooted cluster folds with the normal discipline
    ClusterOps.componentsUpdate(spark,
      Seq((11L, 32L)).toDF("a", "b"), "a", "b", st, keepPath = Some(kp))
    assert(readSide() == Seq((11L, 11L, 3L)), readSide().toString)
    assert(mat() == readSide(), s"materialized diverged after resume: ${mat()}")
  }

  test("driver-side bounds are contracts: a corpus-sized re-ingest split " +
      "and a backfill-sized root collect fail loudly with windowing " +
      "guidance instead of OOMing the driver") {
    val base = (0 until 31).map(i => s"w$i").mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("cap").toString + "/i"
    DedupOps.minhashLshIndexBuild(Seq((1L, base)).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val e1 = intercept[IllegalArgumentException](
      DedupOps.minhashLshIndexProbe(spark,
        Seq((1L, base + " changed")).toDF("doc_id", "text"),
        "doc_id", "text", idx, maxStateSplit = 0))
    assert(e1.getMessage.contains("maxStateSplit") &&
      e1.getMessage.contains("windows"), e1.getMessage)
    val st = java.nio.file.Files.createTempDirectory("cap2").toString + "/s"
    ClusterOps.componentsUpdate(spark,
      Seq((1L, 2L)).toDF("a", "b"), "a", "b", st)
    val e2 = intercept[IllegalArgumentException](
      ClusterOps.componentsUpdate(spark,
        Seq((2L, 3L)).toDF("a", "b"), "a", "b", st, maxDriverRoots = 0))
    assert(e2.getMessage.contains("maxDriverRoots") &&
      e2.getMessage.contains("windows"), e2.getMessage)
  }

  test("params sidecar: fields read by NAME (column order irrelevant), " +
      "and a present-but-corrupt sidecar fails loudly instead of " +
      "silently falling back to caller banding") {
    val base = (0 until 31).map(i => s"w$i").mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("psname").toString + "/i"
    DedupOps.minhashLshIndexBuild(Seq((1L, base)).toDF("doc_id", "text"),
      "doc_id", "text", idx, shingleK = 3, numHashes = 128, bands = 32)
    // rewrite the sidecar with REORDERED columns (a schema-merge /
    // rebuild shape): a positional read would swap num_hashes and bands
    // and band incompatibly — by-name reads must keep finding the pair
    Seq((32, 128, 3)).toDF("bands", "num_hashes", "shingle_k")
      .write.format("hadro").mode("overwrite").save(s"$idx/params")
    val pairs = DedupOps.minhashLshIndexProbe(spark,
      Seq((9L, base + " x")).toDF("doc_id", "text"), "doc_id", "text", idx,
      extendIndex = false)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 9L)),
      s"reordered params sidecar broke the probe: $pairs")
    // corrupt the sidecar: directory present but not a readable
    // collection — must throw the rebuild diagnostic, never band blind
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$idx/params"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$idx/params"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$idx/params/garbage"),
      "not a collection".getBytes)
    val e = intercept[IllegalArgumentException](
      DedupOps.minhashLshIndexProbe(spark,
        Seq((9L, base + " x")).toDF("doc_id", "text"),
        "doc_id", "text", idx, extendIndex = false))
    assert(e.getMessage.contains("corrupted") &&
      e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("pre-dedupe duplicate BAND rows heal on an unchanged re-ingest " +
      "(the sets-side nrows guard's twin)") {
    val base = (0 until 31).map(i => s"w$i").mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("bheal").toString + "/i"
    DedupOps.minhashLshIndexBuild(Seq((1L, base)).toDF("doc_id", "text"),
      "doc_id", "text", idx, shingleK = 3, numHashes = 64, bands = 16)
    val bandsC = graft.api.Collection(spark, s"$idx/bands")
    // plant exact duplicate band rows for id 1 (a pre-dedupe version's
    // write): every hash matches its twin, so without the per-band
    // count guard the id would classify UNCHANGED forever
    bandsC.append(bandsC.toDF())
    assert(bandsC.toDF().count() == 32L)
    DedupOps.minhashLshIndexProbe(spark,
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text", idx).collect()
    assert(bandsC.toDF().count() == 16L,
      s"duplicate band rows did not heal: ${bandsC.toDF().count()}")
    // and the sets side stayed single-row (it was never duplicated)
    assert(graft.api.Collection(spark, s"$idx/sets").toDF().count() == 1L)
  }

  test("hybrid RRF fuses the lexical and vector pools with exact " +
      "reciprocal-rank scores and deterministic tie handling") {
    // doc 2: lexical rank 1 (tf=3), vector rank 3 (orthogonal);
    // doc 1: rank 2 in BOTH pools; doc 3: vector rank 1, no lexical hit
    val docs = Seq((1L, "alpha beta gamma"),
      (2L, "alpha alpha alpha beta"),
      (3L, "delta epsilon zeta")).toDF("doc_id", "text")
    val vecs = Seq((1L, Seq(1f, 0.1f)), (2L, Seq(0f, 1f)),
      (3L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.hybridRrfTopK(docs, vecs, "doc_id", "text",
        "vec_id", "embedding", Seq("alpha"), Seq(1f, 0f))
      .as[(Long, Double)].collect().toSeq
    // hand-derived: rrf(2) = 1/61 + 1/63, rrf(1) = 2/62, rrf(3) = 1/61
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(out == Seq(
      (2L, r6(1.0 / 61 + 1.0 / 63)),
      (1L, r6(2.0 / 62)),
      (3L, r6(1.0 / 61))), out.toString)
  }

  test("eagerVerify dry-run fetches verification payloads as bounded " +
      "point batches on the keyed sets scan, with results identical to " +
      "the lazy corpus scan") {
    val idx = java.nio.file.Files.createTempDirectory("lshev").toString + "/i"
    val nIdx = 2000
    val corpus = (0 until nIdx).map { i =>
      (i.toLong, (0 until 31).map(j => s"c${i}w$j").mkString(" "))
    }
    DedupOps.minhashLshIndexBuild(corpus.toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val batch = (0 until 3).map { i =>
      (100000L + i, (0 until 31).map(j => s"c${i * 7}w$j").mkString(" ") +
        " extra")
    }
    def dry(eager: Boolean) = DedupOps.minhashLshIndexProbe(spark,
      batch.toDF("doc_id", "text"), "doc_id", "text", idx,
      extendIndex = false, eagerVerify = eager)
    val lazyOut = dry(eager = false)
    val eagerOut = dry(eager = true)
    val lazyPairs = lazyOut.select($"doc_a", $"doc_b")
      .as[(Long, Long)].collect().sorted.toSeq
    val eagerPairs = eagerOut.select($"doc_a", $"doc_b")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(eagerPairs == lazyPairs,
      s"eagerVerify changed results: $eagerPairs vs $lazyPairs")
    assert(lazyPairs == (0 until 3).map(i => (i * 7L, 100000L + i)).toSeq)
    // scan metrics: the eager plan's remaining scans are the two
    // verification reads of `sets` — with the candidate ids pushed as an
    // IN over the key, the key-bloom/offset sidecars reduce them to
    // point batches (rows out ≈ candidates, not corpus)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val scanRows = walk(eagerOut.queryExecution.executedPlan)
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.metrics("numOutputRows").value }
    assert(scanRows.nonEmpty, "expected the verification scans to execute")
    assert(scanRows.sum < nIdx / 10,
      s"eagerVerify read ${scanRows.sum} sets rows (${scanRows.sorted.reverse}) " +
        s"— the bounded IN must reduce the fetch to point batches, " +
        s"not $nIdx-row corpus scans")
  }

  test("incremental embedding probe pairs batches against the persisted " +
      "sign-LSH index, extends it, and reads its banding from the params " +
      "sidecar") {
    val idx = java.nio.file.Files.createTempDirectory("embidx").toString + "/i"
    val u = Seq.tabulate(8)(i => (i + 1).toFloat)
    val w = Seq.tabulate(8)(i => (8 - i).toFloat) // cos(u, w) ≈ 0.59 < 0.9
    DedupOps.embeddingIndexBuild(
      Seq((1L, u), (2L, u.map(_ * 1.01f)), (3L, w)).toDF("vec_id", "emb"),
      "vec_id", "emb", idx, bits = 8, numBands = 4)
    def probe(rows: Seq[(Long, Seq[Float])], extend: Boolean = true) =
      DedupOps.embeddingIndexProbe(spark, rows.toDF("vec_id", "emb"),
        "vec_id", "emb", idx, extendIndex = extend)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().sorted.toSeq
    // batch 1: a copy of u — pairs with both corpus near-dups, never
    // with the distinct-direction vector, and (1,2) does not re-emit
    assert(probe(Seq((101L, u))) == Seq((1L, 101L), (2L, 101L)))
    // batch 2 sees batch 1 (the probe extended the index)
    assert(probe(Seq((201L, u.map(_ * 2f)))) ==
      Seq((1L, 201L), (2L, 201L), (101L, 201L)))
    // dry-run leaves the index untouched
    assert(probe(Seq((301L, w)), extend = false) == Seq((3L, 301L)))
    assert(probe(Seq((401L, w))) == Seq((3L, 401L)))
  }

  test("extend-mode verification fetch pushes bounded candidate ids into " +
      "the keyed sets scan; the fallback branch returns identical pairs") {
    val t1 = (0 until 31).map(i => s"tok$i").mkString(" ")
    val t2 = (100 until 131).map(i => s"oth$i").mkString(" ")
    def build(): String = {
      val idx = java.nio.file.Files.createTempDirectory("lshpd").toString + "/i"
      DedupOps.minhashLshIndexBuild(
        Seq((1L, t1), (2L, t1 + " x"), (3L, t2)).toDF("doc_id", "text"),
        "doc_id", "text", idx)
      idx
    }
    val batch = Seq((101L, t1)).toDF("doc_id", "text")
    // IN-pushdown branch (default bound) and the >bound fallback must
    // agree — and both must agree with the dry-run's lazy scan
    val viaIn = DedupOps.minhashLshIndexProbe(spark, batch,
      "doc_id", "text", build())
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    // the fallback reads the checkpoint the bounded fetch filled: a
    // pinned pair is evaluated once, not once per fetch and again per
    // fallback checkpoint. Neither pin is in the result (doc 3 is below
    // the threshold, (1,3) is old-old), so viaScan == viaIn still shows
    // the fallback's own candidate search finding (1,101) and (2,101)
    val pinEvals = spark.sparkContext.longAccumulator("pinEvals")
    val pins = Seq((3L, 101L), (1L, 3L)).toDS()
      .map { p => pinEvals.add(1); p }.toDF("doc_a", "doc_b")
    val viaScan = DedupOps.minhashLshIndexProbe(spark, batch,
      "doc_id", "text", build(), maxIdPushdown = 0, mustCheck = Some(pins))
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(pinEvals.value == 2L,
      s"over-bound probe evaluated its 2 pinned pairs ${pinEvals.value} times")
    val lazyDry = DedupOps.minhashLshIndexProbe(spark, batch,
      "doc_id", "text", build(), extendIndex = false)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(viaIn == Seq((1L, 101L), (2L, 101L)), viaIn.toString)
    assert(viaScan == viaIn, s"fallback diverged: $viaScan vs $viaIn")
    assert(lazyDry == viaIn, s"dry-run diverged: $lazyDry vs $viaIn")
    // and the keyed sets collection's point path actually prunes: an
    // IN over the key column skips segments whose blooms exclude it
    // (the mechanism the pushdown fetch rides — h06/h12's contract)
    val idx2 = build()
    val sets = graft.api.Collection(spark, s"$idx2/sets")
    assert(sets.keyField.contains("doc_id"),
      "sets must be keyed for bloom/offset pruning")
  }

  test("componentsUpdate bounded driver fold matches the distributed fold " +
      "(same membership, same keep rows, either path)") {
    import spark.implicits._
    // one 1201-node chain. Folded as ONE 1200-pair window it exceeds the
    // driver fast path's pair bound (MaxKeyPushdown) and takes the
    // distributed alt-star fold; folded as two 600-pair windows each
    // window fits the bound and takes the driver union-find (window 2
    // additionally pulls window 1's cluster members — the member-fetch
    // branch). Both must land the identical state and keep-list. The
    // curation cycles split the same way: st1's one cycle touches 1201
    // docs (over the bound: the distributed half), st2's touch at most
    // 601 each (the driver half).
    val dir = java.nio.file.Files.createTempDirectory("dfold").toString
    val st1 = s"$dir/s1"; val kp1 = s"$dir/k1"; val dp1 = s"$dir/d1"
    val st2 = s"$dir/s2"; val kp2 = s"$dir/k2"; val dp2 = s"$dir/d2"
    // the distributed fold reads the pair checkpoint the bounded fetch
    // filled: the caller's pipeline runs once, not twice
    val pairEvals = spark.sparkContext.longAccumulator("pairEvals")
    ClusterOps.componentsUpdate(spark,
      (0L until 1200L).map(i => (i, i + 1)).toDS()
        .map { p => pairEvals.add(1); p }.toDF("a", "b"), "a", "b",
      st1, keepPath = Some(kp1))
    assert(pairEvals.value == 1200L,
      s"over-bound window evaluated its 1200 pairs ${pairEvals.value} times")
    ClusterOps.curationCycle(spark, st1, "cur", kp1, dp1)
    ClusterOps.componentsUpdate(spark,
      (0L until 600L).map(i => (i, i + 1)).toDF("a", "b"), "a", "b",
      st2, keepPath = Some(kp2))
    ClusterOps.curationCycle(spark, st2, "cur", kp2, dp2)
    ClusterOps.componentsUpdate(spark,
      (600L until 1200L).map(i => (i, i + 1)).toDF("a", "b"), "a", "b",
      st2, keepPath = Some(kp2))
    ClusterOps.curationCycle(spark, st2, "cur", kp2, dp2)
    val m1 = ClusterOps.components(spark, st1)
      .as[(Long, Long)].collect().sorted.toSeq
    val m2 = ClusterOps.components(spark, st2)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(m1 == m2, s"fold paths diverged: ${m1.take(5)} vs ${m2.take(5)}")
    assert(m1.forall(_._2 == 0L) && m1.size == 1201, m1.take(5).toString)
    val k1 = ClusterOps.keepListMaterialized(spark, kp1)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val k2 = ClusterOps.keepListMaterialized(spark, kp2)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(k1 == Seq((0L, 0L, 1201L)), k1.toString)
    assert(k1 == k2, s"keep lists diverged: $k1 vs $k2")
    val d1 = ClusterOps.dropList(spark, dp1)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val d2 = ClusterOps.dropList(spark, dp2)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(d1 == (1L to 1200L).map(d => (d, 0L, 0L)), d1.take(5).toString)
    assert(d1 == d2, s"drop lists diverged: ${d1.take(5)} vs ${d2.take(5)}")
    // one stored schema per collection, whichever half created it
    def stored(p: String) =
      graft.meta.CollectionMeta.readSchema(java.nio.file.Paths.get(p))
    Seq((st1, st2), (kp1, kp2), (dp1, dp2)).foreach { case (a, b) =>
      assert(stored(a).isDefined && stored(a) == stored(b),
        s"stored schemas diverged: ${stored(a)} vs ${stored(b)}")
    }
  }

  test("a regular-sized loop window keeps its Spark job budget: the " +
      "probe, componentsUpdate and curationCycle driver paths") {
    val dir = java.nio.file.Files.createTempDirectory("jobbudget").toString
    val idx = s"$dir/i"; val st = s"$dir/s"; val kp = s"$dir/k"
    val dp = s"$dir/d"
    def text(i: Int) = (0 until 31).map(j => s"w${i}_$j").mkString(" ")
    DedupOps.minhashLshIndexBuild(
      (0 until 40).map(i => (i.toLong, text(i))).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    ClusterOps.componentsUpdate(spark,
      (0L until 20L).map(i => (i, i + 20L)).toDF("a", "b"), "a", "b", st,
      keepPath = Some(kp))
    ClusterOps.curationCycle(spark, st, "cur", kp, dp)
    // one window: ten near-dups of indexed docs, ten fresh docs
    val batch = ((0 until 10).map(i => (100L + i, text(i) + " x")) ++
      (50 until 60).map(i => (100L + i, text(i)))).toDF("doc_id", "text")
    val (pairs, probeJobs) = countJobs(DedupOps.minhashLshIndexProbe(spark,
      batch, "doc_id", "text", idx)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq)
    assert(pairs == (0L until 10L).map(i => (i, 100L + i)), pairs.toString)
    val (_, foldJobs) = countJobs(ClusterOps.componentsUpdate(spark,
      pairs.toDF("a", "b"), "a", "b", st, keepPath = Some(kp)))
    val (_, cycleJobs) = countJobs(
      ClusterOps.curationCycle(spark, st, "cur", kp, dp))
    assert(ClusterOps.dropList(spark, dp).count() == 30L)
    info(s"jobs: probe $probeJobs, componentsUpdate $foldJobs, " +
      s"curationCycle $cycleJobs")
    // the counts the per-site head(n+1) guards ran (23, 8, 5); a lazy
    // checkpoint that added a job on the driver path would show here
    assert(probeJobs <= 23 && foldJobs <= 8 && cycleJobs <= 5,
      s"probe $probeJobs, componentsUpdate $foldJobs, " +
        s"curationCycle $cycleJobs jobs")
  }

  test("LSH index probe never emits an old-old pair, even when mustCheck " +
      "pins one") {
    val idx = java.nio.file.Files.createTempDirectory("lshmc").toString + "/i"
    val t1 = (0 until 31).map(i => s"tok$i").mkString(" ")
    DedupOps.minhashLshIndexBuild(
      Seq((1L, t1), (2L, t1 + " x")).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val out = DedupOps.minhashLshIndexProbe(spark,
      Seq((101L, (200 until 231).map(i => s"z$i").mkString(" ")))
        .toDF("doc_id", "text"),
      "doc_id", "text", idx, extendIndex = false,
      mustCheck = Some(Seq((1L, 2L)).toDF("doc_a", "doc_b")))
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq
    assert(out.isEmpty,
      s"an old-old mustCheck pair leaked past the ≥1-new-side gate: $out")
  }

  test("duplicated-span profile flags planted shared spans, spares unique docs") {
    val planted = docs.withColumn("text",
      when($"doc_id" % 5 === 0,
        concat($"text", lit(" zz yy xx ww vv uu tt ss rr qq pp oo")))
        .otherwise($"text"))
    val out = DedupOps.duplicatedSpanProfile(planted, "doc_id", "text", w = 10)
      .as[(Long, Int, Long, Double)].collect().map(r => r._1 -> r).toMap
    val flagged = docs.filter($"doc_id" % 5 === 0)
      .select($"doc_id").as[Long].collect()
    assert(flagged.length >= 2)
    // the 12 planted tokens contain 3 interior 10-token windows shared by
    // every planted doc
    flagged.foreach(id => assert(out(id)._3 >= 3L, s"doc $id under-flagged"))
    assert(out.values.forall(r => r._3 <= r._2))
  }

  test("keep-one span removal: first (doc, start) owner keeps the span, " +
      "all other copies are cut, uncovered text untouched") {
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ") // exactly one window
    val d = Seq(
      (3L, s"alpha beta $boiler gamma"),
      (1L, s"$boiler tail one"),
      (2L, s"head two $boiler"),
      (9L, "totally unique text nine")).toDF("doc_id", "text")
    val out = DedupOps.removeDuplicateSpansKeepOne(d, "doc_id", "text")
      .select($"doc_id", $"clean_text", $"n_removed")
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 1 is the lexicographically first (doc, start) occurrence: keeps it
    assert(out(1L)._1 == s"$boiler tail one", out(1L)._1)
    assert(out(1L)._2 == 0)
    // every other copy is cut; surrounding text survives in order
    assert(out(2L)._1 == "head two", out(2L)._1)
    assert(out(3L)._1 == "alpha beta gamma", out(3L)._1)
    assert(out(2L)._2 == 10 && out(3L)._2 == 10)
    // untouched doc passes through whole
    assert(out(9L)._1 == "totally unique text nine" && out(9L)._2 == 0)
    // contrast: the drop-all variant loses the span everywhere
    val all = DedupOps.removeDuplicateSpans(d, "doc_id", "text")
      .select($"doc_id", $"clean_text").as[(Long, String)].collect().toMap
    assert(all(1L) == "tail one")
  }

  test("span-removal shuffles carry hashed window keys, never window text") {
    // 40 docs x 60 tokens x 40 chars: every 10-token window is ~409 bytes,
    // so a text-keyed inventory exchange would carry >= the full window
    // volume (docs x 51 windows x 409B ~ 830 KB) at least once. The
    // hashed plan's TOTAL shuffle dataSize must stay under half that —
    // only 8-byte keys and the per-doc token arrays may cross exchanges.
    val nDocs = 40
    val rows = (0 until nDocs).map { i =>
      // consecutive doc pairs share their text => genuinely shared windows
      val base = i / 2
      val text = (0 until 60).map(j => f"t$base%02dw$j%02d" + "q" * 34)
        .mkString(" ")
      (i.toLong, text)
    }
    val df = rows.toDF("doc_id", "text").repartition(4)
    val out = DedupOps.removeDuplicateSpans(df, "doc_id", "text")
    out.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val shuffled = walk(out.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeExec => s.metrics("dataSize").value }
      .sum
    val windowTextBytes = nDocs.toLong * 51 * 409
    assert(shuffled > 0, "expected at least one exchange to execute")
    assert(shuffled < windowTextBytes / 2,
      s"shuffled $shuffled bytes — window keys are crossing an exchange " +
        s"as text (window volume ~$windowTextBytes)")
    // and the hashed rewrite still removes exactly the shared spans
    val cleaned = out.select($"doc_id", $"clean_text")
      .as[(Long, String)].collect().toMap
    assert(cleaned.values.count(_.isEmpty) == nDocs,
      "paired docs share every window — all text must be removed")
  }

  test("alt-star CC closes a long chain within its O(log n) round budget") {
    // Chain 0-1-...-63 (diameter 63 — min-propagation would need 63
    // rounds) plus two disjoint triangles; alt-star must converge inside
    // its default 25-round cap and label every node with its true min.
    val chain = (0L until 63L).map(i => (i, i + 1))
    val tris = Seq((100L, 101L), (101L, 102L), (102L, 100L),
      (200L, 201L), (201L, 202L), (202L, 200L))
    val pairs = (chain ++ tris).toDF("a", "b")
    val out = ClusterOps.connectedComponentsAltStar(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    (0L to 63L).foreach(i => assert(out(i) == 0L, s"chain node $i"))
    Seq(100L, 101L, 102L).foreach(i => assert(out(i) == 100L))
    Seq(200L, 201L, 202L).foreach(i => assert(out(i) == 200L))
    assert(out.size == 70)
  }

  test("decontamination flags leaked eval copies and spares clean docs") {
    val bench = docs.filter($"doc_id" % 50 === 0)
    val leaked = bench.withColumn("doc_id", $"doc_id" + 1000000L)
      .withColumn("text", concat($"text", lit(" leakedeval")))
    val corpus = docs.filter($"doc_id" % 50 =!= 0).unionByName(leaked)
    val flagged = DedupOps.decontaminate(corpus, bench, "doc_id", "text")
      .select($"doc_id", $"n_hit_ngrams").as[(Long, Long)].collect().toMap
    // every leaked copy with >= 13 tokens must be flagged, with hit count
    // = its shingle count minus the shingles touching the appended token
    val benchToks = bench.select($"doc_id",
      size(TextOps.tokens($"text")).as("n")).as[(Long, Int)].collect().toMap
    benchToks.filter(_._2 >= 13).foreach { case (id, n) =>
      assert(flagged.contains(id + 1000000L), s"leaked copy of $id not flagged")
      assert(flagged(id + 1000000L) >= n - 12L,
        "a full copy must share every original 13-gram")
    }
    // the corpus keeps its clean majority: flagged docs are a small subset
    assert(flagged.size < corpus.count() / 10)
  }

  test("sequence packing covers every token exactly once within the budget") {
    val packed = PackOps.packSequences(docs, "doc_id", "text",
      budget = 512, shardCol = "source")
    packed.persist()
    // every document's slices are disjoint, contiguous, and sum to n_tokens
    val perDoc = packed.groupBy($"doc_id", $"n_tokens")
      .agg(sum($"tok_end" - $"tok_start").as("covered"),
        min($"tok_start").as("first"), max($"tok_end").as("last"))
    assert(perDoc.filter($"covered" =!= $"n_tokens" ||
      $"first" =!= 0L || $"last" =!= $"n_tokens").isEmpty)
    // every sequence except a shard's last holds exactly `budget` tokens
    val perSeq = packed.groupBy($"shard", $"seq_id")
      .agg(sum($"tok_end" - $"tok_start").as("toks"))
    val lastSeq = perSeq.groupBy($"shard").agg(max($"seq_id").as("seq_id"))
    assert(perSeq.join(lastSeq, Seq("shard", "seq_id"), "left_anti")
      .filter($"toks" =!= 512L).isEmpty)
    // deterministic under repartitioning
    val again = PackOps.packSequences(docs.repartition(7), "doc_id", "text",
      budget = 512, shardCol = "source")
    assert(packed.exceptAll(again).isEmpty && again.exceptAll(packed).isEmpty)
    packed.unpersist()
  }

  test("shuffle shards: stable assignment, dense per-shard ranks") {
    val out = SampleOps.shuffleShards(docs, "doc_id", numShards = 8)
      .select($"doc_id", $"shard", $"shard_pos")
    out.persist()
    assert(out.count() == docs.count())
    // ranks are dense 0..n-1 within every shard
    val bad = out.groupBy($"shard")
      .agg(count(lit(1)).as("n"), min($"shard_pos").as("lo"),
        max($"shard_pos").as("hi"), countDistinct($"shard_pos").as("d"))
      .filter($"lo" =!= 0L || $"hi" =!= $"n" - 1 || $"d" =!= $"n")
    assert(bad.isEmpty)
    // same seed → identical assignment regardless of partitioning
    val again = SampleOps.shuffleShards(docs.repartition(5), "doc_id", 8)
      .select($"doc_id", $"shard", $"shard_pos")
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    // a different seed produces a different permutation
    val reseeded = SampleOps.shuffleShards(docs, "doc_id", 8, seed = "other")
      .select($"doc_id", $"shard", $"shard_pos")
    assert(out.exceptAll(reseeded).count() > 0)
    out.unpersist()
  }

  test("PQ encoding is deterministic and self-distance is zero") {
    val path = java.nio.file.Files.createTempDirectory("pq").resolve("ix").toString
    val idx = SimilarityOps.buildPqIndex(spark, path, embs, "vec_id", "embedding",
      iterations = 0)
    val codes = idx.scan().select($"vid", $"codes").as[(Long, Seq[Int])].collect().toMap
    assert(codes.size == embs.count())
    assert(codes.values.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    // rebuilding from a repartitioned frame yields identical codes
    val path2 = java.nio.file.Files.createTempDirectory("pq2").resolve("ix").toString
    val idx2 = SimilarityOps.buildPqIndex(spark, path2,
      embs.repartition(7), "vec_id", "embedding", iterations = 0)
    val codes2 = idx2.scan().select($"vid", $"codes").as[(Long, Seq[Int])].collect().toMap
    assert(codes == codes2, "PQ codes must not depend on partitioning")
    // a seed vector's subvectors ARE centroids: its ADC self-distance is 0
    // and it ranks first for its own query
    val q = embs.filter($"vec_id" === 3L).select($"embedding").head().getSeq[Float](0)
    val top = SimilarityOps.pqTopK(idx, "vec_id", q, 5)
      .as[(Long, Double)].collect()
    assert(top.head._1 == 3L && top.head._2 == 0.0)
  }

  test("IVFPQ probes only clustered segments and agrees with PQ on them") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq").resolve("ix").toString
    val idx = SimilarityOps.buildIvfPqIndex(spark, path, embs, "vec_id", "embedding",
      iterations = 0)
    val q = embs.filter($"vec_id" === 0L).select($"embedding").head().getSeq[Float](0)
    val top = SimilarityOps.ivfPqTopK(idx, "vec_id", q, 10)
      .as[(Long, Double)].collect()
    assert(top.head._1 == 0L && top.head._2 == 0.0, "seed query self-distance 0")
    // every candidate came from a probed cluster (top-2 by centroid cosine)
    val cents = SimilarityOps.loadCentroids(java.nio.file.Paths.get(path)).get
    val members = idx.scan().select($"vid", $"cluster").as[(Long, Int)].collect().toMap
    val probed = top.map(t => members(t._1)).toSet
    assert(probed.size <= 2, s"candidates from ${probed.size} clusters, nprobe=2")
    // ADC estimates equal the pure-PQ path for the same vectors (same
    // codebook seeds), so composing IVF pruning cannot change the math
    val pqPath = java.nio.file.Files.createTempDirectory("ivfpq_ref").resolve("ix").toString
    val pqIdx = SimilarityOps.buildPqIndex(spark, pqPath, embs, "vec_id", "embedding",
      iterations = 0)
    val ref = SimilarityOps.pqTopK(pqIdx, "vec_id", q, Int.MaxValue)
      .as[(Long, Double)].collect().toMap
    top.foreach { case (vid, d) => assert(ref(vid) == d) }
  }

  test("trained PQ codebooks match-or-beat seed codebooks on mean recall@10") {
    // The justification for the Lloyd training pass: over a fixed query
    // set, mean recall@10 vs exact brute force must not get WORSE when the
    // seed codebook is refined (training minimizes quantization error, the
    // ANN error floor). Deterministic: fixed data, fixed queries, and both
    // codebooks are bit-stable across partitionings.
    def meanRecall(iterations: Int): Double = {
      val p = java.nio.file.Files.createTempDirectory(s"pqrec$iterations")
        .resolve("ix").toString
      val idx = SimilarityOps.buildPqIndex(spark, p, embs, "vec_id", "embedding",
        iterations = iterations)
      val qids = 0L until 500L by 50L
      val rs = qids.map { qid =>
        val q = embs.filter($"vec_id" === qid)
          .select($"embedding").head().getSeq[Float](0)
        val exact = SimilarityOps.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
        SimilarityOps.recallAtK(exact,
            Seq("pq" -> SimilarityOps.pqTopK(idx, "vec_id", q, 10)), "vec_id", 10)
          .select($"recall").head().getDouble(0)
      }
      rs.sum / rs.size
    }
    val seed = meanRecall(0)
    val trained = meanRecall(1)
    assert(trained > 0.0, "trained PQ recall must be nonzero")
    assert(trained >= seed,
      s"one Lloyd pass must not lose recall: trained $trained < seed $seed")
  }

  test("incremental sq8 refresh keeps recall and finds appended vectors") {
    val pathRoot = java.nio.file.Files.createTempDirectory("sqrefresh")
    val old = embs.filter($"vec_id" < 400L)
    val fresh = embs.filter($"vec_id" >= 400L)
    val idx = SimilarityOps.buildSqIndex(spark, pathRoot.resolve("ix").toString,
      old, "vec_id", "embedding")
    val v0 = idx.version
    SimilarityOps.appendSqIndex(idx, fresh, "vec_id", "embedding")
    assert(idx.version == v0 + 1, "refresh must be one atomic commit")
    assert(idx.count() == embs.count())
    // a query AT an appended vector must retrieve it first via re-rank
    val qid = embs.agg(max($"vec_id")).head().getLong(0)
    val q = embs.filter($"vec_id" === qid).select($"embedding").head().getSeq[Float](0)
    val top = SimilarityOps.rerankTopK(idx, embs.select($"vec_id", $"embedding"),
      "vec_id", "embedding", q, 5, candidates = 50)
      .select($"vec_id").as[Long].collect()
    assert(top.head == qid, s"appended vector $qid must be its own nearest, got ${top.head}")
    // refreshed-index recall vs brute force stays high despite clamping
    val exact = SimilarityOps.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
    val got = SimilarityOps.rerankTopK(idx, embs.select($"vec_id", $"embedding"),
      "vec_id", "embedding", q, 10, candidates = 50)
    val r = SimilarityOps.recallAtK(exact, Seq("refreshed" -> got), "vec_id", 10)
      .select($"recall").head().getDouble(0)
    assert(r >= 0.8, s"post-refresh recall@10 $r < 0.8")
  }

  test("matryoshka search is exact at full dims and recalls well truncated") {
    val q = embs.filter($"vec_id" === 7L).select($"embedding").head().getSeq[Float](0)
    val exact = SimilarityOps.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
    // degenerate truncation (all dims, pool = corpus) must equal brute force
    val dims = q.length
    val full = SimilarityOps.matryoshkaTopK(embs, "vec_id", "embedding", q, 10,
      coarseDims = dims, candidates = embs.count().toInt)
    assert(full.collect().toSeq == exact.collect().toSeq)
    // quarter-dims coarse stage with a 100-pool must keep recall@10 high
    val trunc = SimilarityOps.matryoshkaTopK(embs, "vec_id", "embedding", q, 10,
      coarseDims = dims / 4, candidates = 100)
    val r = SimilarityOps.recallAtK(exact, Seq("mrl" -> trunc), "vec_id", 10)
      .select($"recall").head().getDouble(0)
    assert(r >= 0.5, s"matryoshka recall@10 $r < 0.5")
  }

  test("MMR degenerates to relevance order at lambda=1 and diversifies below") {
    val q = embs.filter($"vec_id" === 3L).select($"embedding").head().getSeq[Float](0)
    val rel = SimilarityOps.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
      .select($"vec_id").as[Long].collect().toSeq
    val mmr1 = SimilarityOps.mmrTopK(embs, "vec_id", "embedding", q, 10,
        lambda = 1.0, candidates = 30)
      .orderBy($"rk").select($"vec_id").as[Long].collect().toSeq
    assert(mmr1 == rel, "lambda=1 must reduce to pure relevance ranking")
    // a planted near-copy of the top hit must be demoted once diversity counts
    val top = rel.head
    val topVec = embs.filter($"vec_id" === top).select($"embedding").head().getSeq[Float](0)
    val planted = embs.select($"vec_id", $"embedding").unionByName(
      Seq((999999L, topVec)).toDF("vec_id", "embedding"))
    val div = SimilarityOps.mmrTopK(planted, "vec_id", "embedding", q, 5,
        lambda = 0.5, candidates = 30)
      .orderBy($"rk").select($"vec_id").as[Long].collect().toSeq
    assert(div.head == top)
    assert(div(1) != 999999L, "exact copy of rank-1 must not take rank 2 under MMR")
  }

  test("video frame dedup recalls trimmed copies, df-cap drops ubiquitous frames") {
    import org.apache.spark.sql.functions.{col, encode, expr, length => flen}
    val base = docs.filter(flen($"text") >= 300).limit(20)
      .select($"doc_id", encode($"text", "UTF-8").as("media"))
    // trimmed re-upload: drop the leading 32-byte frame
    val copies = base.select(($"doc_id" + 1000000L).as("doc_id"),
      expr("substring(media, 33, 100000)").as("media"))
    val pairs = MultimodalOps.videoNearDupPairs(base.union(copies),
        "doc_id", "media", minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = base.select($"doc_id").as[Long].collect()
      .map(id => (id, id + 1000000L)).toSet
    assert(planted.subsetOf(pairs),
      s"missed planted trims: ${planted -- pairs}")

    // a ubiquitous frame (same 32-byte intro on every asset) must not pair
    // otherwise-unrelated assets once the df-cap drops it
    val intro = "X" * 32
    val branded = docs.limit(40)
      .select($"doc_id", encode(concat(lit(intro), $"text"), "UTF-8").as("media"))
    val bp = MultimodalOps.videoNearDupPairs(branded, "doc_id", "media",
        minShared = 1, maxDf = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the capped intro cannot pair the whole corpus by itself
    assert(bp.size < 40 * 39 / 2, "intro frame alone paired the whole corpus")
  }

  test("CDC chunk dedup survives insertions that break fixed-frame hashing") {
    import org.apache.spark.sql.functions.{col, encode, length => flen}
    val base = docs.filter(flen($"text") >= 300).limit(20)
      .select($"doc_id", encode($"text", "UTF-8").as("media"))
    // splice 7 bytes near the START: every fixed frame after the edit
    // shifts, but content-defined boundaries re-synchronize
    val spliced = base.select(($"doc_id" + 1000000L).as("doc_id"),
      expr("concat(substring(media, 1, 20), cast('XXSPLIC' as binary), " +
        "substring(media, 21, 100000))").as("media"))
    val both = base.union(spliced)
    val planted = base.select($"doc_id").as[Long].collect()
      .map(id => (id, id + 1000000L)).toSet

    val cdc = MultimodalOps.cdcNearDupPairs(both, "doc_id", "media",
        minSize = 16, maskBits = 4, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.subsetOf(cdc), s"CDC missed splices: ${planted -- cdc}")

    // the fixed-frame path structurally loses post-edit frames: it must
    // recall strictly fewer planted pairs than CDC on the same corpus
    val framed = MultimodalOps.videoNearDupPairs(both, "doc_id", "media",
        minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.intersect(framed).size < planted.size,
      "fixed frames should miss some spliced pairs — else the contrast claim is wrong")

    // determinism: chunk hashes are partition-independent
    val h1 = MultimodalOps.cdcNearDupPairs(both.repartition(7), "doc_id", "media",
        minSize = 16, maskBits = 4, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(h1 == cdc)
  }

  test("audio envelope hash is gain-invariant, shape-sensitive, total") {
    def wav(period: Int, gain: Int): Array[Byte] = {
      val n = 1600
      graft.functions.WavUtil.encodeMono(8000, Array.tabulate(n) { i =>
        val w = i * 16 / n
        (if ((w / period) % 2 == 0) gain else gain / 50).toShort
      })
    }
    val rows = Seq(
      (1L, wav(2, 1000)), (2L, wav(2, 9000)), // same shape, 9x gain
      (3L, wav(3, 1000)), // different burst period
      (4L, "not a wav".getBytes)) // foreign bytes stay total
    val out = MultimodalOps
      .audioEnvelopeHash(rows.toDF("doc_id", "media"), "doc_id", "media")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L).isDefined && out(1L) == out(2L), "gain must not change the hash")
    assert(out(1L) != out(3L), "different envelope shapes must separate")
    assert(out(4L).isEmpty, "non-WAV bytes hash to null, not an error")
  }

  test("bigram LM penalizes rare transitions under equal contexts") {
    // controlled model: 'a b' transitions dominate the corpus; doc 999
    // uses the SAME tokens but rare 'a a'/'b b' transitions — with the
    // context (first-token) counts shared, only conditional structure
    // separates the scores, which is exactly what a bigram LM measures
    // and a unigram LM cannot (identical bags).
    val common = (1L to 50L).map(i => (i, Array.fill(10)("a b").mkString(" ")))
    val rare = Seq((999L, Array.fill(5)("a a b b").mkString(" ")))
    val corpus = (common ++ rare).toDF("doc_id", "text")
    val scores = TextOps.lmBigramNllScores(corpus, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    assert(scores(999L) > scores(1L),
      s"rare transitions ${scores(999L)} must exceed common ${scores(1L)}")
    // partition-independent (decimal-summed, no FP order sensitivity)
    val again = TextOps.lmBigramNllScores(corpus.repartition(7), "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    assert(scores == again)
  }

  test("LM quality scores are positive, total, and partition-independent") {
    val scores = TextOps.lmNllScores(docs, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    assert(scores.size == docs.count())
    assert(scores.values.forall(v => v > 0.0 && v.isFinite))
    val again = TextOps.lmNllScores(docs.repartition(7), "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    assert(scores == again, "scores must not depend on partitioning")
  }

  test("quality score and langid are total and bounded") {
    val scored = docs.select(
      TextOps.qualityScore($"text").as("q"),
      TextOps.langId(TextOps.tokens($"text")).as("lang"))
    assert(scored.filter($"q" < 0.0 || $"q" > 1.0 || $"q".isNull).count() == 0)
    assert(scored.filter($"lang".isNull).count() == 0)
  }

  test("sq8 index: round-trip error bounded by half a cell, planted copy ranks first") {
    import org.apache.spark.sql.functions.{array_max, array_min, transform => atransform, abs => aabs, zip_with, max => amax}
    val base = embs.select($"vec_id", $"embedding")
    val dir = java.nio.file.Files.createTempDirectory("sq8").resolve("idx").toString
    val idx = SimilarityOps.buildSqIndex(spark, dir, base, "vec_id", "embedding")
    val (minv, scale) = SimilarityOps.loadSqParams(
      java.nio.file.Paths.get(dir)).get
    assert(scale > 0.0)
    // decode(encode(v)) stays within half a quantization cell of v
    val decoded = graft.functions.VectorExpressions.sq8_decode(
      graft.functions.VectorExpressions.sq8_encode($"embedding", minv, scale),
      minv, scale)
    val maxErr = base
      .select(array_max(zip_with(decoded, $"embedding",
        (d, v) => aabs(d - v.cast("double")))).as("err"))
      .agg(amax($"err")).head().getDouble(0)
    assert(maxErr <= scale * 0.5000001, s"max error $maxErr vs half-cell ${scale / 2}")
    // the query vector itself is in the index: its own code must rank first
    val q = base.filter($"vec_id" === 7L).select($"embedding").head().getSeq[Float](0)
    val top = SimilarityOps.sqTopK(idx, "vec_id", q, 5).collect()
    assert(top.head.getLong(0) == 7L, s"expected vec 7 first, got ${top.head}")
  }

  test("delete-aware ANN: base-table deletes vanish from topK, live ranking exact") {
    val base = embs.select($"vec_id", $"embedding")
    val root = java.nio.file.Files.createTempDirectory("liveann")
    val coll = graft.api.Collection.create(spark,
      root.resolve("base").toString, base, key = Some("vec_id"))
    val idx = SimilarityOps.buildSqIndex(spark, root.resolve("idx").toString,
      coll.toDF(), "vec_id", "embedding")
    val q = base.filter($"vec_id" === 7L).select($"embedding").head().getSeq[Float](0)
    // vec 7 is its own nearest neighbor: the stale index must return it...
    val stale = SimilarityOps.sqTopK(idx, "vec_id", q, 5)
      .select($"vec_id").as[Long].collect()
    assert(stale.head == 7L)
    // ...until the BASE row is deleted — no index rebuild, no refresh
    coll.delete(7L)
    val live = SimilarityOps.sqTopKLive(idx, coll, "vec_id", "vec_id", q, 5)
      .select($"vec_id").as[Long].collect()
    assert(!live.contains(7L), s"deleted vec 7 still served: ${live.toSeq}")
    assert(live.length == 5, s"pool slack must still yield k live hits: ${live.toSeq}")
    // the live ranking is exactly the stale ranking minus the deleted row
    assert(live.toSeq == stale.filterNot(_ == 7L).toSeq :+ SimilarityOps
      .sqTopK(idx, "vec_id", q, 6).select($"vec_id").as[Long].collect()(5),
      "live topK must be the stale order with deleted rows dropped")
    // a second delete deeper in the pool is excluded the same way
    coll.delete(live.head)
    val live2 = SimilarityOps.sqTopKLive(idx, coll, "vec_id", "vec_id", q, 5)
      .select($"vec_id").as[Long].collect()
    assert(!live2.contains(7L) && !live2.contains(live.head) && live2.length == 5)
    // physical sweep: after rewriting the index against the live base,
    // the PLAIN topK agrees with the delete-aware path — and incremental
    // refresh still composes (params sidecar untouched)
    val swept = SimilarityOps.sweepSqIndex(idx, coll, "vec_id")
    assert(swept == 2L, s"expected 2 index rows swept, got $swept")
    val plain = SimilarityOps.sqTopK(idx, "vec_id", q, 5)
      .select($"vec_id").as[Long].collect()
    assert(plain.toSeq == live2.toSeq,
      s"swept index must serve the live ranking: $plain vs $live2")
    assert(SimilarityOps.loadSqParams(
      java.nio.file.Paths.get(idx.path)).isDefined, "params sidecar lost")
  }

  test("radius search: exact matches brute-force threshold; sq two-stage loses nothing") {
    val base = embs.select($"vec_id", $"embedding")
    val q = base.filter($"vec_id" === 0L).select($"embedding").head().getSeq[Float](0)
    val theta = 0.2
    val exact = SimilarityOps.radiusSearch(base, "vec_id", "embedding", q, theta)
      .select($"vec_id").as[Long].collect().toSet
    // ground truth: every vector whose exact cosine clears the threshold
    val truth = base
      .select($"vec_id",
        SimilarityOps.cosine($"embedding",
          org.apache.spark.sql.functions.typedlit(q)).as("c"))
      .filter($"c" >= theta).select($"vec_id").as[Long].collect().toSet
    assert(exact == truth && exact.contains(0L) && exact.nonEmpty)

    val dir = java.nio.file.Files.createTempDirectory("radius").resolve("idx").toString
    val idx = SimilarityOps.buildSqIndex(spark, dir, base, "vec_id", "embedding")
    val twoStage = SimilarityOps.sqRadiusSearch(idx, base, "vec_id", "embedding",
      q, theta, margin = 0.05).select($"vec_id").as[Long].collect().toSet
    // exact verify => precision 1; margin absorbs quantization => recall 1
    assert(twoStage == exact,
      s"two-stage radius diverged: missing ${exact -- twoStage}, extra ${twoStage -- exact}")
  }

  test("two-stage re-ranking: recall@10 >= single-stage sq8, exact within pool") {
    val base = embs.select($"vec_id", $"embedding")
    val dir = java.nio.file.Files.createTempDirectory("rerank").resolve("idx").toString
    val idx = SimilarityOps.buildSqIndex(spark, dir, base, "vec_id", "embedding")
    val qids = 0L until 500L by 50L
    val (rr, ss) = qids.map { qid =>
      val q = base.filter($"vec_id" === qid)
        .select($"embedding").head().getSeq[Float](0)
      val exact = SimilarityOps.bruteForceTopK(base, "vec_id", "embedding", q, 10)
      val both = SimilarityOps.recallAtK(exact, Seq(
          "rerank" -> SimilarityOps.rerankTopK(idx, base, "vec_id", "embedding",
            q, 10, candidates = 100),
          "sq" -> SimilarityOps.sqTopK(idx, "vec_id", q, 10)),
        "vec_id", 10)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      (both("rerank"), both("sq"))
    }.unzip
    val (rMean, sMean) = (rr.sum / rr.size, ss.sum / ss.size)
    assert(rMean >= sMean,
      s"re-ranking must not lose recall: rerank $rMean < single-stage $sMean")
    assert(rMean > 0.9, s"re-ranked recall@10 suspiciously low: $rMean")
  }

  test("hamming binary-code ANN: two-stage recall@10 strong, 8-byte codes") {
    val base = embs.select($"vec_id", $"embedding")
    val dir = java.nio.file.Files.createTempDirectory("hamm").resolve("idx").toString
    val idx = SimilarityOps.buildHammingIndex(spark, dir, base, "vec_id", "embedding")
    // the index stores exactly (vid, sig): one BIGINT code per vector
    assert(idx.scan().schema.fieldNames.toSeq == Seq("vid", "sig"))
    val recalls = (0L until 500L by 100L).map { qid =>
      val q = base.filter($"vec_id" === qid)
        .select($"embedding").head().getSeq[Float](0)
      val exact = SimilarityOps.bruteForceTopK(base, "vec_id", "embedding", q, 10)
      SimilarityOps.recallAtK(exact, Seq(
          "hamming" -> SimilarityOps.hammingTopK(idx, base, "vec_id",
            "embedding", q, 10, candidates = 100)),
        "vec_id", 10)
        .collect().head.getDouble(1)
    }
    val mean = recalls.sum / recalls.size
    assert(mean > 0.7, s"hamming two-stage recall@10 suspiciously low: $mean")
    // within the candidate pool the final order is EXACT: the query point
    // itself (hamming 0 to its own code) must always rank first
    val q0 = base.filter($"vec_id" === 0L).select($"embedding").head().getSeq[Float](0)
    val top = SimilarityOps.hammingTopK(idx, base, "vec_id", "embedding",
      q0, 10, candidates = 100).collect()
    assert(top.head.getLong(0) == 0L, "self must be the top hit")
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
  }

  test("filtered ANN: every hit satisfies the predicate; exact when the pool covers") {
    val base = embs.select($"vec_id", $"embedding", ($"vec_id" % 5).cast("int").as("label"))
    val dir = java.nio.file.Files.createTempDirectory("fann").resolve("idx").toString
    val idx = SimilarityOps.buildSqIndex(spark, dir, base, "vec_id", "embedding",
      metaCols = Seq("label"))
    val q = base.filter($"vec_id" === 0L).select($"embedding").head().getSeq[Float](0)

    val hits = SimilarityOps.filteredRerankTopK(idx, base, "vec_id", "embedding",
      $"label" === 2, q, 10, candidates = 50).collect()
    assert(hits.length == 10)
    val labels = base.filter($"label" === 2).select($"vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(hits.forall(r => labels(r.getLong(0))),
      "a filtered hit escaped the predicate")

    // a pool covering the whole filtered slice makes the result EXACT:
    // identical to brute force over the pre-filtered corpus
    val slice = base.filter($"label" === 2)
    val n = slice.count().toInt
    val exact = SimilarityOps.bruteForceTopK(slice, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSeq
    val covered = SimilarityOps.filteredRerankTopK(idx, base, "vec_id", "embedding",
      $"label" === 2, q, 10, candidates = n).collect().map(_.getLong(0)).toSeq
    assert(covered == exact, "full-coverage filtered ANN must equal filtered brute force")

    // coarse-stage pre-filter: the pool is never diluted by non-matching
    // rows, so even a small pool keeps decent recall within the slice
    val small = SimilarityOps.filteredRerankTopK(idx, base, "vec_id", "embedding",
      $"label" === 2, q, 10, candidates = 20).collect().map(_.getLong(0)).toSet
    assert(small.intersect(exact.toSet).size >= 7,
      s"filtered recall collapsed: ${small.intersect(exact.toSet).size}/10")
  }

  test("perceptual hash: re-encode invariant, near-dup lands nearby, garbage is null") {
    def png(w: Int, h: Int, pix: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pix(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val checker = (x: Int, y: Int) => if ((x + y) % 2 == 0) 0xffffff else 0
    // same raster at two sizes (16x16 is the 8x8 pattern pixel-doubled…
    // sampled on the same grid), plus a one-cell perturbation and garbage
    val doubled = (x: Int, y: Int) => checker(x / 2, y / 2)
    val perturbed = (x: Int, y: Int) =>
      if (x == 0 && y == 0) 0 else checker(x, y)
    val df = Seq(
      (1L, png(8, 8, checker)), (2L, png(16, 16, doubled)),
      (3L, png(8, 8, perturbed)), (4L, "not a png".getBytes))
      .toDF("doc_id", "media")
    val out = MultimodalOps.imagePerceptualHash(df, "doc_id", "media")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L).isDefined && out(1L) == out(2L),
      "scale-doubled identical raster must hash identically")
    assert(out(3L).isDefined && out(3L) != out(1L))
    val hd = java.lang.Long.bitCount(out(1L).get ^ out(3L).get)
    assert(hd <= 2, s"one-cell perturbation must stay within hamming 2, got $hd")
    assert(out(4L).isEmpty, "undecodable media hashes to null")
  }

  test("batch rerank equals the single-query pipeline per query") {
    val base = embs.select($"vec_id", $"embedding")
    val dir = java.nio.file.Files.createTempDirectory("brr").resolve("idx").toString
    val idx = SimilarityOps.buildSqIndex(spark, dir, base, "vec_id", "embedding")
    val qids = Seq(0L, 150L, 300L)
    val queries = base.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val batch = SimilarityOps.rerankTopKBatch(idx, base, "vec_id", "embedding",
      queries, "qid", "qvec", k = 10, candidates = 80)
      .collect().groupBy(_.getLong(0))
    qids.foreach { qid =>
      val q = base.filter($"vec_id" === qid).select($"embedding").head().getSeq[Float](0)
      val single = SimilarityOps.rerankTopK(idx, base, "vec_id", "embedding",
        q, 10, candidates = 80).collect().map(_.getLong(0)).toSeq
      val got = batch(qid).sortBy(_.getInt(3)).map(_.getLong(1)).toSeq
      assert(got == single, s"batch diverged from single-query rerank for qid=$qid")
    }
  }

  test("dup-ngram fraction flags looping text, near-zero on distinct text") {
    val looping = (Seq.fill(10)("spam and eggs and ham every day") :+ "tail").mkString(" ")
    val distinctText = (0 until 70).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, looping), (2L, distinctText), (3L, "short text"))
      .toDF("doc_id", "text")
    val out = TextOps.dupNgramCharFraction(df, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) > 0.9, s"looping doc must be ~all duplicated 5-grams: ${out(1L)}")
    assert(out(2L) == 0.0, "all-distinct tokens have no duplicated 5-grams")
    assert(out(3L) == 0.0, "sub-n docs degenerate to one whole-text shingle")
    assert(out.keySet == Set(1L, 2L, 3L), "every doc gets a row")
  }

  test("mixture resample hits target proportions; binding source keeps all") {
    val corpus = spark.range(0, 6000).select($"id",
      when($"id" < 2000, "a").when($"id" < 4000, "b").otherwise("c").as("src"))
    val out = SampleOps.mixtureResample(corpus, "id", "src",
      Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2))
    val by = out.groupBy($"src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // T = min(2000/0.5, 2000/0.3, 2000/0.2) = 4000: a binds and keeps all;
    // b targets 1200, c targets 800 — binomial membership, so ±5% slack
    assert(by("a") == 2000L, s"binding source must keep everything: ${by("a")}")
    assert(math.abs(by("b") - 1200L) <= 60, s"b off target: ${by("b")}")
    assert(math.abs(by("c") - 800L) <= 40, s"c off target: ${by("c")}")

    // deterministic: same call, same membership
    val again = SampleOps.mixtureResample(corpus, "id", "src",
      Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2))
    assert(out.select("id").except(again.select("id")).count() == 0)
    assert(again.select("id").except(out.select("id")).count() == 0)

    // unweighted sources drop entirely
    val partial = SampleOps.mixtureResample(corpus, "id", "src", Map("a" -> 1.0))
    assert(partial.filter($"src" =!= "a").count() == 0)
    assert(partial.count() == 2000)

    // a different seed reshuffles membership of the thinned sources
    val reseeded = SampleOps.mixtureResample(corpus, "id", "src",
      Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), seed = "other")
    assert(reseeded.select("id").except(out.select("id")).count() > 0)
  }

  test("gopher rules: structural failures flagged, clean doc kept") {
    val filler = Seq.fill(60)("alpha").mkString(" ")
    val rows = Seq(
      (1L, s"the be to of and that have with $filler"), // passes every bound
      (2L, Seq.fill(60)("####").mkString(" ")),        // symbols, no alpha/stops
      (3L, "the be short text only"),                  // under the 50-word floor
      (4L, Seq.fill(60)("- the be bullet line ...").mkString("\n")) // bullet+ellipsis lines
    ).toDF("doc_id", "text")
    val out = TextOps.gopherQuality(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"), "clean doc must pass")
    assert(out(1L).getAs[Int]("n_stopwords") == 8)
    assert(!out(2L).getAs[Boolean]("keep"))
    assert(out(2L).getAs[Double]("symbol_ratio") > 0.1, "#### must count as symbols")
    assert(out(2L).getAs[Double]("alpha_frac") == 0.0)
    assert(!out(3L).getAs[Boolean]("keep"))
    assert(out(3L).getAs[Int]("n_words") < 50)
    assert(!out(4L).getAs[Boolean]("keep"))
    assert(out(4L).getAs[Double]("bullet_frac") == 1.0)
    assert(out(4L).getAs[Double]("ellipsis_frac") == 1.0)
  }

  test("fuzzy decontamination recalls planted eval leaks") {
    val base = docs.select($"doc_id", $"text")
    val evalSet = base.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 5000000L).as("doc_id"),
        concat($"text", lit(" leakedtoken")).as("text"))
    val out = DedupOps.fuzzyDecontaminate(base, evalSet, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val planted = base.filter($"doc_id" % 10 === 0)
      .select($"doc_id").as[Long].collect()
    // every source of a lightly-perturbed leak must surface, through the
    // probabilistic band join alone (no mustCheck pinning here)
    planted.foreach(id => assert(out.contains(id),
      s"planted leak source $id not flagged"))
    out.values.foreach(j => assert(j >= 0.8 && j <= 1.0))
  }

  test("containment decontamination catches embedded evals Jaccard misses") {
    val base = docs.select($"doc_id", $"text")
    // eval items are PREFIXES of corpus docs: containment vs the host is
    // exactly 1.0 while symmetric Jaccard ~ |eval| / |doc| — the leak
    // shape a Jaccard-threshold decontamination cannot flag
    val evalSet = base.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 7000000L).as("doc_id"),
        concat_ws(" ", slice(split($"text", " "), 1, 6)).as("text"))
    val out = DedupOps.containmentDecontaminate(base, evalSet, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val hosts = base.filter($"doc_id" % 10 === 0)
      .filter(size(split($"text", " ")) >= 6)
      .select($"doc_id").as[Long].collect()
    hosts.foreach(id => assert(out.get(id).contains(1.0),
      s"host $id of an embedded eval must have containment 1.0, got ${out.get(id)}"))
    // the same planted set under SYMMETRIC Jaccard stays sub-threshold
    // for long hosts — prove at least one host is Jaccard-invisible
    val fj = DedupOps.fuzzyDecontaminate(base, evalSet, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    val longHosts = base.filter($"doc_id" % 10 === 0)
      .filter(size(split($"text", " ")) >= 30)
      .select($"doc_id").as[Long].collect()
    assert(longHosts.exists(id => !fj.contains(id) && out.contains(id)),
      "expected at least one long host flagged by containment but not Jaccard")
  }

  test("semantic dedup drops planted same-direction copies, keeps originals") {
    import org.apache.spark.sql.types.FloatType
    val base = embs.select($"vec_id", $"embedding")
    val corpus = base.unionByName(
      base.filter($"vec_id" % 10 === 0)
        .select(($"vec_id" + 1000000L).as("vec_id"),
          transform($"embedding", v => (v * lit(2.0f)).cast(FloatType))
            .as("embedding")))
    val out = DedupOps.semanticDedup(corpus, "vec_id", "embedding",
      kCentroids = 4, threshold = 0.95)
    assert(out.count() == corpus.count(), "one verdict per input row")
    // every planted copy shares its source's direction (cosine 1) and a
    // larger id — all must be dropped; every original must survive (random
    // vectors at this dimensionality never reach 0.95 pairwise)
    assert(out.filter($"vec_id" >= 1000000L && $"kept").count() == 0,
      "planted copies must be dropped")
    assert(out.filter($"vec_id" < 1000000L && !$"kept").count() == 0,
      "originals must all be kept")
    // determinism across partitionings (the keep rule is id-based)
    val again = DedupOps.semanticDedup(corpus.repartition(7), "vec_id",
      "embedding", kCentroids = 4, threshold = 0.95)
    assert(out.orderBy("vec_id").collect().toSeq ==
      again.orderBy("vec_id").collect().toSeq)
  }

  test("perplexity buckets: tail dropped by value, boundary ties all stay") {
    val out = TextOps.perplexityBucketFilter(docs, "doc_id", "text", "lang")
    val scored = TextOps.lmNllScores(docs, "doc_id", "text")
      .join(docs.select($"doc_id", $"lang"), "doc_id")
    val perLangN = scored.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = out.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    val keptByLang = kept.groupBy(_._2)
    perLangN.foreach { case (lang, n) =>
      val k = keptByLang.get(lang).map(_.length).getOrElse(0)
      assert(k >= n - n / 3, s"$lang kept $k of $n — below the tercile floor")
      // value rule: every dropped doc scores strictly above every kept one
      val cutKeep = keptByLang(lang).map(_._3).max
      val dropped = scored.filter($"lang" === lang)
        .join(out.select($"doc_id"), Seq("doc_id"), "left_anti")
        .select($"lm_nll").as[Double].collect()
      assert(dropped.forall(_ > cutKeep),
        s"$lang: a dropped doc scored <= the keep cutoff $cutKeep")
      // head floor: at least ceil(n/3) head rows, all scoring <= middles
      val heads = keptByLang(lang).filter(_._4 == "head").map(_._3)
      val mids = keptByLang(lang).filter(_._4 == "middle").map(_._3)
      assert(heads.length >= (n + 2) / 3)
      if (mids.nonEmpty) assert(heads.max <= mids.min)
    }
    // boundary ties all stay: one language, 9 identical docs (one score)
    val tied = (1 to 9).map(i => (i.toLong, "same text here", "xx"))
      .toDF("doc_id", "text", "lang")
    val tiedOut = TextOps.perplexityBucketFilter(tied, "doc_id", "text", "lang")
    assert(tiedOut.count() == 9, "a single tied score can never be 'tail'")
    assert(tiedOut.select($"ppl_bucket").distinct().as[String].collect()
      .toSeq == Seq("head"))
  }

  test("hashed linear quality: exact hash replay, map-only plan") {
    val out = TextOps.hashedQualityScore(docs, "doc_id", "text")
    // no shuffle anywhere: the classifier is a per-row projection
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"classifier pass must be map-only:\n$plan")
    // bit-exact replay of one doc through the same formula
    val row = docs.orderBy($"doc_id").select($"doc_id", $"text").head()
    val toks = row.getString(1).split(" ", -1)
    val score = toks.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(org.apache.spark.unsafe.types.UTF8String.fromString(t), 42L)
      val b = java.lang.Math.floorMod(h, 1024L)
      java.lang.Math.floorMod(b * 2654435761L + 12345L, 2001L) - 1000L
    }.sum
    val got = out.filter($"doc_id" === row.getLong(0)).head()
    assert(got.getInt(1) == toks.length)
    // unrounded: one IEEE division of exact integers, bit-identical
    assert(got.getDouble(2) == score.toDouble / (toks.length * 1000.0))
    assert(got.getBoolean(3) == (score >= 0))
  }

  test("trained hashed quality: weights train closed-form, inference " +
      "stays map-only, JVM replay is bit-exact") {
    // train on the corpus' labeled subset; weight table is bounded by dim
    val wrows = TextOps.trainHashedQualityWeights(docs, "doc_id", "text")
      .as[(Long, Long)].collect()
    assert(wrows.nonEmpty && wrows.length <= 1024)
    assert(wrows.forall { case (b, w) =>
      b >= 0 && b < 1024 && w >= -500 && w <= 500 })
    val weights = Array.fill[Long](1024)(0L)
    wrows.foreach { case (b, w) => weights(b.toInt) = w }
    val out = TextOps.hashedQualityScoreTrained(docs, "doc_id", "text",
      weights.toSeq)
    // inference is a per-row projection over a broadcast literal array:
    // no shuffle anywhere, same as the formula-weight classifier
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"inference must be map-only:\n$plan")
    // bit-exact replay of one doc through the trained vector
    val row = docs.orderBy($"doc_id").select($"doc_id", $"text").head()
    val toks = row.getString(1).split(" ", -1)
    val score = toks.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(org.apache.spark.unsafe.types.UTF8String.fromString(t), 42L)
      weights(java.lang.Math.floorMod(h, 1024L).toInt)
    }.sum
    val got = out.filter($"doc_id" === row.getLong(0)).head()
    assert(got.getInt(1) == toks.length)
    assert(got.getDouble(2) == score.toDouble / (toks.length * 1000.0))
    assert(got.getBoolean(3) == (score >= 0))
  }

  test("cluster-balanced sample caps every cluster; under-cap pass whole; " +
      "membership is partitioning-independent") {
    // planted geometry: 3 orthogonal directions with distinct populations
    // (40 / 25 / 6) — k=3 seed centroids land one per direction, so the
    // cap must bite the two big clusters and pass the small one whole
    val dim = 8
    def vec(axis: Int, i: Int): Array[Float] = {
      val a = Array.fill(dim)(0.001f * ((i % 7) + 1))
      a(axis) = 1f + 0.01f * (i % 5); a
    }
    val rows =
      (0 until 3).map(i => (i.toLong, vec(i, i))) ++ // seeds: ids 0,1,2
        (10 until 47).map(i => (i.toLong, vec(0, i))) ++
        (50 until 72).map(i => (i.toLong, vec(1, i))) ++
        (80 until 83).map(i => (i.toLong, vec(2, i)))
    val df = rows.toDF("vec_id", "embedding")
    val out = SampleOps.clusterBalancedSample(df, "vec_id", "embedding",
      kCentroids = 3, cap = 10)
    val byCluster = out.groupBy($"cluster").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byCluster.values.forall(_ <= 10), byCluster.toString)
    assert(byCluster.values.count(_ == 10L) == 2, // the two big ones capped
      byCluster.toString)
    assert(byCluster.values.exists(c => c > 0 && c < 10), // small passes whole
      byCluster.toString)
    // determinism: same picks under a different partitioning
    val again = SampleOps.clusterBalancedSample(df.repartition(17),
      "vec_id", "embedding", kCentroids = 3, cap = 10)
      .select($"vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(again == out.select($"vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq)
    // the cap plans as WindowGroupLimit: the shuffle carries <= cap rows
    // per cluster, not the corpus
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"cap must plan as WindowGroupLimit:\n$plan")
  }

  test("DSIR selection ranks target-like docs first; boundary is exact") {
    // planted corpus: 30 docs in the target dialect, 30 in a disjoint
    // vocabulary, 5 mixed. Target model trained on a SEPARATE target-
    // dialect sample — selection must surface the target-like docs.
    val tgtWords = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val rawWords = Seq("omega", "sigma", "tau", "kappa", "lambda")
    def sentence(ws: Seq[String], seed: Int): String =
      (0 until 12).map(i => ws((seed * 7 + i * 3) % ws.size)).mkString(" ")
    val raw =
      (0 until 30).map(i => (i.toLong, sentence(tgtWords, i))) ++
      (30 until 60).map(i => (i.toLong, sentence(rawWords, i))) ++
      (60 until 65).map(i => (i.toLong,
        sentence(tgtWords, i) + " " + sentence(rawWords, i)))
    val rawDf = raw.toDF("doc_id", "text")
    val target = (100 until 120).map(i => (i.toLong, sentence(tgtWords, i)))
      .toDF("doc_id", "text")

    val top = SampleOps.dsirSelect(rawDf, target, "doc_id", "text", k = 30)
      .collect()
    assert(top.length == 30)
    assert(top.forall(_.getLong(0) < 30),
      s"top-30 must be exactly the target-dialect docs, got " +
        top.map(_.getLong(0)).sorted.mkString(","))
    // weights: every target-dialect doc strictly above every other (the
    // mixed docs' extra disjoint-vocab grams drag their SUM below even
    // the pure-disjoint docs — DSIR's documented length behavior, fine:
    // what matters is that the target dialect separates cleanly)
    val all = SampleOps.dsirSelect(rawDf, target, "doc_id", "text", k = 65)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val minTgt = (0 until 30).map(i => all(i.toLong)).min
    val maxOther = (30 until 65).map(i => all(i.toLong)).max
    assert(minTgt > maxOther,
      s"target dialect must separate cleanly ($minTgt vs $maxOther)")
    // determinism across partitionings (the boundary-exactness claim)
    val again = SampleOps.dsirSelect(rawDf.repartition(13), target.coalesce(1),
      "doc_id", "text", k = 30).collect().map(_.getLong(0)).sorted
    assert(again.toSeq == top.map(_.getLong(0)).sorted.toSeq)
  }

  test("componentsRebuild equals the incremental folds, and a lagging " +
      "cycle whose compaction-crossed full fold trips the driver-roots " +
      "bound recovers through it instead of throwing") {
    val wh = java.nio.file.Files.createTempDirectory("rebuild").toString
    val pairsP = s"$wh/pairs"; val st = s"$wh/state"; val kp = s"$wh/keep"
    // window 1: four disjoint clusters, folded incrementally
    Seq((0L, 1L), (10L, 11L), (20L, 21L), (30L, 31L))
      .toDF("doc_a", "doc_b")
      .write.format("hadro").mode("overwrite").save(pairsP)
    ClusterOps.componentsCycle(spark, pairsP, "rb_cur", st,
      keepPath = Some(kp))
    // rebuild ≡ the incrementally folded state on the same log
    val st2 = s"$wh/state2"; val kp2 = s"$wh/keep2"
    val n = ClusterOps.componentsRebuild(spark, pairsP, st2,
      keepPath = Some(kp2))
    assert(n == 8L, s"rebuilt $n member rows")
    def members(p: String) = ClusterOps.components(spark, p)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(members(st2) == members(st),
      "rebuild diverged from the incremental folds")
    assert(ClusterOps.keepListMaterialized(spark, kp2)
        .as[(Long, Long, Long)].collect().sorted.toSeq ==
      ClusterOps.keepListMaterialized(spark, kp)
        .as[(Long, Long, Long)].collect().sorted.toSeq)
    def stored(p: String) =
      graft.meta.CollectionMeta.readSchema(java.nio.file.Paths.get(p))
    assert(stored(st2) == stored(st) && stored(kp2) == stored(kp),
      "the rebuild created different stored schemas than the folds")
    // window 2 lands touching ALL four clusters, then a bin-pack
    // consumes the in-window append while the consumer still lags —
    // the changefeed walk refuses; with maxDriverRoots below the
    // touched-cluster count the exact full-snapshot re-fold ALSO
    // refuses (TouchedRootsOverBound), and the cycle must delegate to
    // componentsRebuild rather than surface either error
    Seq((1L, 10L), (21L, 30L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("append").save(pairsP)
    graft.api.Collection(spark, pairsP).compactSmall(1L << 30)
    ClusterOps.componentsCycle(spark, pairsP, "rb_cur", st,
      maxDriverRoots = 3, keepPath = Some(kp))
    val oneShot = ClusterOps.connectedComponentsAltStar(
      graft.api.Collection(spark, pairsP).toDF(), "doc_a", "doc_b")
      .select($"node", $"cluster").as[(Long, Long)].collect().sorted.toSeq
    assert(members(st) == oneShot,
      s"delegated rebuild diverged: ${members(st)} vs $oneShot")
    assert(ClusterOps.keepListMaterialized(spark, kp)
        .as[(Long, Long, Long)].collect().sorted.toSeq ==
      ClusterOps.keepList(spark, st)
        .as[(Long, Long, Long)].collect().sorted.toSeq,
      "keep-list out of step after the delegated rebuild")
    // the cursor advanced: a caught-up next cycle is a no-op
    val head = graft.api.Collection(spark, pairsP).tags("rb_cur")
    assert(ClusterOps.componentsCycle(spark, pairsP, "rb_cur", st) == head)
  }

  test("pairsSink fails loudly on a REGRESSED window id (checkpoint " +
      "reset / stale caller) instead of silently dropping the window") {
    val wh = java.nio.file.Files.createTempDirectory("widreg").toString
    val idx = s"$wh/idx"; val pairsP = s"$wh/pairs"
    val base = (0 until 31).map(i => s"w$i").mkString(" ")
    DedupOps.minhashLshIndexBuild(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", idx)
    def probe(w: Long, rows: Seq[(Long, String)]): Unit = {
      DedupOps.minhashLshIndexProbe(spark, rows.toDF("doc_id", "text"),
        "doc_id", "text", idx, pairsSink = Some((pairsP, w))).collect()
      ()
    }
    probe(5L, Seq((1L, base), (2L, base + " aa"))) // stamps window 5
    // exact retry (same id): allowed, idempotent
    probe(5L, Seq((1L, base), (2L, base + " aa")))
    // REGRESSION (lower id): must throw, not drop
    val e = intercept[IllegalStateException] {
      probe(3L, Seq((3L, base + " bb")))
    }
    assert(e.getMessage.contains("regressed"), e.getMessage)
    // the log still holds exactly the one window-5 pair
    val logged = graft.api.Collection(spark, pairsP).toDF()
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq
    assert(logged == Seq((1L, 2L)), logged.toString)
  }

  test("keepPath first supplied after the state already has clusters " +
      "backfills the FULL keep-list, not just the window's touched rows") {
    val wh = java.nio.file.Files.createTempDirectory("keepboot").toString
    val st = s"$wh/state"; val kp = s"$wh/keep"
    // two windows WITHOUT a keep-list
    ClusterOps.componentsUpdate(spark,
      Seq((10L, 11L), (20L, 21L)).toDF("a", "b"), "a", "b", st)
    // third window WITH keepPath touches only a brand-new cluster — the
    // pre-existing untouched clusters must still appear
    ClusterOps.componentsUpdate(spark,
      Seq((30L, 31L)).toDF("a", "b"), "a", "b", st, keepPath = Some(kp))
    val mat = ClusterOps.keepListMaterialized(spark, kp)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(mat == Seq((10L, 10L, 2L), (20L, 20L, 2L), (30L, 30L, 2L)),
      s"late keepPath missed pre-existing clusters: $mat")
    assert(mat == ClusterOps.keepList(spark, st)
      .as[(Long, Long, Long)].collect().sorted.toSeq)
  }

  test("curationCycle maintains the persisted drop list incrementally: " +
      "new members upsert, demoted keepers upsert, promoted keepers " +
      "tombstone after a takedown sweep's full re-derive") {
    val wh = java.nio.file.Files.createTempDirectory("curation").toString
    val pairsP = s"$wh/pairs"; val st = s"$wh/state"; val kp = s"$wh/keep"
    val dropP = s"$wh/drops"
    def drops() = ClusterOps.dropList(spark, dropP)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    def loopWindow(pairs: Seq[(Long, Long)]): Unit = {
      pairs.toDF("doc_a", "doc_b")
        .write.format("hadro").mode("append").save(pairsP)
      ClusterOps.componentsCycle(spark, pairsP, "cu_cur", st,
        keepPath = Some(kp))
      ClusterOps.curationCycle(spark, st, "cu_drop", kp, dropP)
      ()
    }
    // window 1: two clusters; non-keepers 11 and 21 drop
    loopWindow(Seq((10L, 11L), (20L, 21L)))
    assert(drops() == Seq((11L, 10L, 10L), (21L, 20L, 20L)), drops().toString)
    // window 2: doc 5 joins cluster 10 and DEMOTES keeper 10 — 10's
    // drop row appears, 11 re-keys to the new cluster, 21 untouched
    loopWindow(Seq((5L, 10L)))
    assert(drops() == Seq((10L, 5L, 5L), (11L, 5L, 5L), (21L, 20L, 20L)),
      drops().toString)
    // a replayed cycle (lost tag move) is a no-op: statuses recompute
    val sc = graft.api.Collection(spark, st)
    sc.createTag("cu_drop", math.max(1L, sc.tags("cu_drop") - 1))
    ClusterOps.curationCycle(spark, st, "cu_drop", kp, dropP)
    assert(drops() == Seq((10L, 5L, 5L), (11L, 5L, 5L), (21L, 20L, 20L)),
      s"replayed curation cycle mutated the drop list: ${drops()}")
    // takedown: keeper 5 dies; the sweep re-roots {10,11} to 10 — the
    // generation change forces the next cycle's full re-derive, which
    // PROMOTES 10 (tombstones its drop row) and re-keys 11
    ClusterOps.sweepComponents(spark, st,
      Seq(10L, 11L, 20L, 21L).toDF("doc_id"), keepPath = Some(kp))
    ClusterOps.curationCycle(spark, st, "cu_drop", kp, dropP)
    assert(drops() == Seq((11L, 10L, 10L), (21L, 20L, 20L)),
      s"promoted keeper must tombstone out: ${drops()}")
  }

  test("the curation keeper-lookup shape pushes its cluster IN below " +
      "the LWW resolve and prunes keep-list segments") {
    val kp = java.nio.file.Files.createTempDirectory("keeppush")
      .resolve("keep").toString
    (0L until 64L).map(c => (c, c, 2L))
      .toDF("cluster", "keep_id", "n_members")
      .repartitionByRange(8, $"cluster")
      .write.format("hadro").mode("overwrite")
      .option("hadro.key", "cluster").save(kp)
    // an upsert makes the collection MUTATED, so the read takes the LWW
    // window resolve — the interesting case: the filter must push
    // THROUGH the window (it references only the partition key)
    graft.api.Collection(spark, kp)
      .set(Seq((3L, 3L, 5L)).toDF("cluster", "keep_id", "n_members"))
    val restricted = ClusterOps.keepListMaterialized(spark, kp)
      .filter($"cluster".isin(3L, 9L))
    val got = restricted.select($"cluster", $"n_members")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((3L, 5L), (9L, 2L)), got.toString)
    // walk through AQE wrappers to the executed scans
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val nodes = walk(restricted.queryExecution.executedPlan)
    val scan = nodes.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec executed"))
    assert(scan.toString.contains("cluster"),
      s"cluster IN must reach the scan as a pushed filter:\n$scan")
    val read = scan.metrics("hadroSegmentsRead").value
    assert(read <= 3,
      s"range-clustered keep segments must stat-prune: read $read of 9")
  }

  test("curationCycle refuses LOUDLY (cursor unmoved) when the keep-list " +
      "is out of step with the membership, and heals after the repair") {
    val wh = java.nio.file.Files.createTempDirectory("curgate").toString
    val st = s"$wh/state"; val kp = s"$wh/keep"; val dropP = s"$wh/drops"
    // membership folds WITHOUT keep maintenance: the keep collection is
    // then created covering only ONE of the two clusters — the
    // out-of-step state a sweep crashed between its rewrites leaves
    ClusterOps.componentsUpdate(spark,
      Seq((10L, 11L), (20L, 21L)).toDF("a", "b"), "a", "b", st)
    Seq((10L, 10L, 2L)).toDF("cluster", "keep_id", "n_members")
      .write.format("hadro").mode("overwrite")
      .option("hadro.key", "cluster").save(kp)
    val e = intercept[IllegalStateException] {
      ClusterOps.curationCycle(spark, st, "cg_cur", kp, dropP)
    }
    assert(e.getMessage.contains("out of step"), e.getMessage)
    assert(!graft.api.Collection(spark, st).tags.contains("cg_cur"),
      "the refused cycle must not advance the cursor")
    // repair (rebuild the keep-list from the state) and re-run: the
    // same window replays cleanly
    ClusterOps.keepList(spark, st).write.format("hadro").mode("overwrite")
      .option("hadro.key", "cluster").save(s"$wh/keep2")
    ClusterOps.curationCycle(spark, st, "cg_cur", s"$wh/keep2", dropP)
    val drops = ClusterOps.dropList(spark, dropP)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(drops == Seq((11L, 10L, 10L), (21L, 20L, 20L)), drops.toString)
    // the same refusal when the window is over the driver bound (1200
    // touched docs in 600 clusters, one missing from the keep-list), so
    // the distributed half resolves it
    val stBig = s"$wh/state_big"; val kpBig = s"$wh/keep_big"
    ClusterOps.componentsUpdate(spark,
      (0L until 600L).map(i => (100L + 2 * i, 101L + 2 * i)).toDF("a", "b"),
      "a", "b", stBig)
    ClusterOps.keepList(spark, stBig).filter($"cluster" =!= 100L)
      .write.format("hadro").mode("overwrite")
      .option("hadro.key", "cluster").save(kpBig)
    val eBig = intercept[IllegalStateException] {
      ClusterOps.curationCycle(spark, stBig, "cg_cur", kpBig, s"$wh/drops_big")
    }
    assert(eBig.getMessage == e.getMessage.replace(kp, kpBig), eBig.getMessage)
    assert(!graft.api.Collection(spark, stBig).tags.contains("cg_cur"),
      "the refused over-bound cycle must not advance the cursor")
  }

  test("componentsCycle routes a corpus-scale first fold (distinct docs " +
      "over the driver-roots bound) straight to the rebuild — no " +
      "driver-resident probe work — and the result still equals the " +
      "one-shot closure") {
    val wh = java.nio.file.Files.createTempDirectory("precheck").toString
    val pairsP = s"$wh/pairs"; val st = s"$wh/state"; val kp = s"$wh/keep"
    // 6 docs in 3 clusters >> maxDriverRoots = 2: the bounded pre-check
    // must take the rebuild path (the fold would otherwise throw only
    // AFTER probing the state)
    Seq((10L, 11L), (20L, 21L), (30L, 31L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("overwrite").save(pairsP)
    ClusterOps.componentsCycle(spark, pairsP, "pc_cur", st,
      maxDriverRoots = 2, keepPath = Some(kp))
    val members = ClusterOps.components(spark, st)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(members == Seq((10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L),
      (30L, 30L), (31L, 30L)), members.toString)
    assert(ClusterOps.keepListMaterialized(spark, kp)
        .as[(Long, Long, Long)].collect().sorted.toSeq ==
      Seq((10L, 10L, 2L), (20L, 20L, 2L), (30L, 30L, 2L)))
    val pc = graft.api.Collection(spark, pairsP)
    assert(pc.tags("pc_cur") == pc.version)
  }

  test("an operator-run componentsRebuild composes with an already-" +
      "tagged consumer: the next cycle refolds its window idempotently " +
      "against the rebuilt state") {
    val wh = java.nio.file.Files.createTempDirectory("rbcur").toString
    val pairsP = s"$wh/pairs"; val st = s"$wh/state"; val kp = s"$wh/keep"
    Seq((10L, 11L), (20L, 21L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("overwrite").save(pairsP)
    ClusterOps.componentsCycle(spark, pairsP, "rc_cur", st,
      keepPath = Some(kp))
    // window 2 lands; BEFORE the consumer runs, an operator rebuilds
    // the state from the full log (e.g. during an incident)
    Seq((11L, 21L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("append").save(pairsP)
    ClusterOps.componentsRebuild(spark, pairsP, st, keepPath = Some(kp))
    // the consumer's next cycle refolds window 2 — already merged by
    // the rebuild, so the fold is a provable no-op (no duplicate rows,
    // no label churn) and the tag still advances
    ClusterOps.componentsCycle(spark, pairsP, "rc_cur", st,
      keepPath = Some(kp))
    val members = ClusterOps.components(spark, st)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(members == Seq((10L, 10L), (11L, 10L), (20L, 10L), (21L, 10L)),
      members.toString)
    val raw = graft.api.Collection(spark, st).scan().count()
    assert(raw == 4L, s"post-rebuild refold left duplicate rows: $raw")
    assert(ClusterOps.keepListMaterialized(spark, kp)
        .as[(Long, Long, Long)].collect().sorted.toSeq ==
      Seq((10L, 10L, 4L)))
    val pc = graft.api.Collection(spark, pairsP)
    assert(pc.tags("rc_cur") == pc.version, "cursor must sit at head")
  }

  test("two independent cursor tags on one pair log: each consumer's " +
      "walk is unaffected by the other's tag moves, and retention " +
      "respects the MIN pinned floor") {
    val wh = java.nio.file.Files.createTempDirectory("twocur").toString
    val pairsP = s"$wh/pairs"
    val stA = s"$wh/stateA"; val stB = s"$wh/stateB"
    // window 1 lands; consumer A folds it, consumer B folds it
    Seq((10L, 11L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("overwrite").save(pairsP)
    ClusterOps.componentsCycle(spark, pairsP, "curA", stA)
    ClusterOps.componentsCycle(spark, pairsP, "curB", stB)
    // windows 2..4 land; only A keeps up — B lags at window 1's version
    (0 until 3).foreach { i =>
      Seq((20L + i, 21L + i)).toDF("doc_a", "doc_b")
        .write.format("hadro").mode("append").save(pairsP)
      ClusterOps.componentsCycle(spark, pairsP, "curA", stA)
      ()
    }
    // aggressive retention: expire everything age allows — B's tag must
    // pin the floor so its (floor, head] window stays walkable
    val pc = graft.api.Collection(spark, pairsP)
    pc.expireSnapshots(System.currentTimeMillis() + 60000L)
    pc.vacuum()
    // B catches up across the retention event
    ClusterOps.componentsCycle(spark, pairsP, "curB", stB)
    def members(p: String) = ClusterOps.components(spark, p)
      .as[(Long, Long)].collect().sorted.toSeq
    val oneShot = ClusterOps.connectedComponentsAltStar(
      pc.toDF(), "doc_a", "doc_b")
      .select($"node", $"cluster").as[(Long, Long)].collect().sorted.toSeq
    assert(members(stA) == oneShot, s"consumer A diverged: ${members(stA)}")
    assert(members(stB) == oneShot,
      s"lagging consumer B diverged across retention: ${members(stB)}")
    // the tags moved independently and both sit at the head now
    val tags = pc.tags
    assert(tags("curA") == tags("curB") && tags("curA") == pc.version,
      tags.toString)
  }

  test("sweepPairs replaces the consumed log with star edges: closure " +
      "preserved, redundant rows reclaimed, schema (and the metric " +
      "stamp) intact, and the post-sweep window folds through the " +
      "generation change") {
    val wh = java.nio.file.Files.createTempDirectory("swpairs").toString
    val pairsP = s"$wh/pairs"; val st = s"$wh/state"
    // a redundant triangle: closure {10,11,12}, 3 log rows, 2 stars
    Seq((10L, 11L, 0.9, "jaccard"), (11L, 12L, 0.85, "jaccard"),
        (10L, 12L, 0.95, "jaccard"))
      .toDF("doc_a", "doc_b", "score", "metric")
      .write.format("hadro").mode("overwrite").save(pairsP)
    ClusterOps.componentsCycle(spark, pairsP, "sp_cur", st)
    val removed = ClusterOps.sweepPairs(spark, pairsP, st)
    assert(removed == 1L, s"expected 1 redundant row reclaimed: $removed")
    // the swept log IS the star set — the log's own schema, synthetic
    // rows stamped metric='star'; the log declared score non-nullable
    // (as probe logs do), so stars carry the NaN not-a-measurement
    // sentinel rather than a NULL the schema would reject
    val log = graft.api.Collection(spark, pairsP).toDF()
      .select($"doc_a", $"doc_b", isnan($"score").as("nan"), $"metric")
      .as[(Long, Long, Boolean, String)].collect().toSeq.sorted
    assert(log == Seq((10L, 11L, true, "star"), (10L, 12L, true, "star")),
      log.toString)
    // the loop CONTINUES across the sweep: the next window's changefeed
    // walk crosses the sweep's generation change, refuses, and re-folds
    // the full snapshot (stars + the new pairs — idempotent)
    Seq((12L, 30L, 0.9, "jaccard")).toDF("doc_a", "doc_b", "score", "metric")
      .write.format("hadro").mode("append").save(pairsP)
    ClusterOps.componentsCycle(spark, pairsP, "sp_cur", st)
    assert(ClusterOps.components(spark, st)
        .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((10L, 10L), (11L, 10L), (12L, 10L), (30L, 10L)))
  }

  test("sweepPairs refuses an uncertified or lagging log, and unblocks " +
      "once every consumer reaches the head") {
    val wh = java.nio.file.Files.createTempDirectory("swref").toString
    val pairsP = s"$wh/pairs"
    val stA = s"$wh/stateA"; val stB = s"$wh/stateB"
    Seq((10L, 11L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("overwrite").save(pairsP)
    // no registered consumer: nothing ties ANY state to this log yet
    val e0 = intercept[IllegalStateException](
      ClusterOps.sweepPairs(spark, pairsP, stA))
    assert(e0.getMessage.contains("REGISTERED"), e0.getMessage)
    ClusterOps.componentsCycle(spark, pairsP, "spA", stA)
    ClusterOps.componentsCycle(spark, pairsP, "spB", stB)
    // the SWAPPED-STATE hazard: a state that is a consumer of some OTHER
    // log (or of nothing) must refuse even while every tag sits at the
    // head — stars derived from it would replace this log with
    // unrelated history
    val eSwap = intercept[IllegalStateException](
      ClusterOps.sweepPairs(spark, pairsP, s"$wh/not_a_consumer"))
    assert(eSwap.getMessage.contains("REGISTERED"), eSwap.getMessage)
    // a second window that only A folds: B's unconsumed window must not
    // be replaceable by stars derived from any state
    Seq((20L, 21L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("append").save(pairsP)
    ClusterOps.componentsCycle(spark, pairsP, "spA", stA)
    val e1 = intercept[IllegalStateException](
      ClusterOps.sweepPairs(spark, pairsP, stA))
    assert(e1.getMessage.contains("spB"), e1.getMessage)
    // B catches up → the sweep is legal; a plain SNAPSHOT PIN at an old
    // version is not a consumer and must NOT block retention (it keeps
    // its pinned snapshot through the replace); a star-only log
    // reclaims 0 here (two 2-clusters = two edges either way) and both
    // consumers' states stay correct against the swept log
    ClusterOps.componentsCycle(spark, pairsP, "spB", stB)
    graft.api.Collection(spark, pairsP).createTag("backup", 1L)
    assert(ClusterOps.sweepPairs(spark, pairsP, stA) == 0L)
    Seq(stA, stB).foreach { p =>
      assert(ClusterOps.components(spark, p)
          .as[(Long, Long)].collect().sorted.toSeq ==
        Seq((10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L)), p)
    }
    // a CLONE of the log starts a fresh history without the source's
    // cursor tags, so it must not inherit the source's consumer registry
    // either: its own consumer registers, cycles and sweeps like on any
    // log, instead of tripping over spA/spB as half-finished decommissions
    val cloneP = s"$wh/pairs_clone"; val stC = s"$wh/stateC"
    graft.api.Collection(spark, pairsP).cloneTo(cloneP)
    ClusterOps.componentsCycle(spark, cloneP, "spC", stC)
    assert(graft.meta.CollectionMeta.readConsumers(
      java.nio.file.Paths.get(cloneP)).keySet == Set("spC"))
    assert(ClusterOps.sweepPairs(spark, cloneP, stC) == 0L)
    assert(ClusterOps.components(spark, stC)
        .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L)))
  }

  test("a snapshot pin keeps its pre-sweep pair-log snapshot readable " +
      "through sweepPairs plus aggressive retention") {
    // the scaladoc claim behind "snapshot pins never block retention":
    // they don't need to, BECAUSE the version-pinned replace + deferred
    // GC preserve the pinned snapshot's manifest and files outright
    val wh = java.nio.file.Files.createTempDirectory("swpin").toString
    val pairsP = s"$wh/pairs"; val st = s"$wh/state"
    Seq((10L, 11L), (11L, 12L), (10L, 12L)).toDF("doc_a", "doc_b")
      .write.format("hadro").mode("overwrite").save(pairsP)
    ClusterOps.componentsCycle(spark, pairsP, "pin_cur", st)
    val pc = graft.api.Collection(spark, pairsP)
    pc.createTag("backup") // pin the PRE-sweep head
    val pinned = pc.tags("backup")
    assert(ClusterOps.sweepPairs(spark, pairsP, st) == 1L)
    // everything age-based retention can take, it takes — except pins
    pc.expireSnapshots(System.currentTimeMillis() + 60000L)
    pc.vacuum()
    val snap = pc.scanVersion(pinned)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted.toSeq
    assert(snap == Seq((10L, 11L), (10L, 12L), (11L, 12L)),
      s"pinned pre-sweep snapshot diverged after sweep+GC: $snap")
    // and the live read is the star set, unaffected by the pin
    assert(pc.toDF().select($"doc_a", $"doc_b")
        .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((10L, 11L), (10L, 12L)))
  }
}
