package graft

import org.apache.spark.sql.functions._

/** Empirical evidence for the composed loop's core scale claim: the
  * nightly probe's cost is HIT-proportional, not corpus-proportional —
  * a FIXED batch probed against a 10× larger index must cost far less
  * than 10× more wall time (the only corpus-proportional piece is the
  * map-only index scan; every shuffle carries O(batch ∪ hits) rows).
  *
  * Run: `sbt "runMain graft.ScaleEvidence"` — builds a MinHash LSH index
  * over sf0.01 (5k docs) and sf0.1 (50k docs) documents, probes the SAME
  * 200-doc batch (100 planted near-dups of ids 0..99 + 100 unique docs)
  * against each, and prints one JSON line with build/probe seconds and
  * the probe's 10× ratio. Results are recorded in BASELINE.md. */
object ScaleEvidence {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val results = Seq("sf0.01", "sf0.1").map { sf =>
      val docs = spark.read
        .parquet(s"/root/testdata/$sf/documents.parquet")
        .select(col("doc_id"), col("text"))
      val nDocs = docs.count()
      // the probe batch is FIXED in size and in hit count against either
      // index — 100 near-copies of the corpus's docs 0..99 plus 100
      // globally unique docs (doc texts differ per SF, so the near-dup
      // partners must come from the corpus under test; what stays
      // constant is exactly what the claim is about: |batch| and |hits|)
      val batch = docs.filter(col("doc_id") < 100)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" probetoken")).as("text"))
        .unionByName(docs.filter(col("doc_id") < 100)
          .select((col("doc_id") + 20000000L).as("doc_id"),
            concat(lit("uqp"), col("doc_id").cast("string"),
              lit("a uqp"), col("doc_id").cast("string"),
              lit("b uqp"), col("doc_id").cast("string"),
              lit("c")).as("text")))
        .localCheckpoint()
      val wh = java.nio.file.Files.createTempDirectory(s"scale_$sf")
      val idx = s"$wh/idx"
      val (_, buildSec) = timed {
        graft.ops.DedupOps.minhashLshIndexBuild(docs, "doc_id", "text", idx)
      }
      // one uncounted warmup dry-run strips JIT/codegen compile tax
      // (the Bench methodology), then best-of-3 on each path
      graft.ops.DedupOps.minhashLshIndexProbe(spark, batch, "doc_id",
        "text", idx, extendIndex = false).count()
      val drySec = (0 until 3).map { _ =>
        timed(graft.ops.DedupOps.minhashLshIndexProbe(spark, batch,
          "doc_id", "text", idx, extendIndex = false).count())._2
      }.min
      // the mutating nightly shape, measured once (idempotent retries
      // would skew a best-of-N: the second extend is a near-no-op)
      val (hits, extSec) = timed {
        graft.ops.DedupOps.minhashLshIndexProbe(spark, batch, "doc_id",
          "text", idx, extendIndex = true).count()
      }
      (sf, nDocs, buildSec, drySec, extSec, hits)
    }
    val (_, n1, b1, d1, e1, h1) = results.head
    val (_, n2, b2, d2, e2, h2) = results.last
    println(
      s"""{"metric":"scale_evidence_probe","batch_docs":200,""" +
        s""""corpus_small":$n1,"corpus_10x":$n2,""" +
        s""""hits_small":$h1,"hits_10x":$h2,""" +
        f""""build_small_sec":$b1%.2f,"build_10x_sec":$b2%.2f,""" +
        f""""probe_dry_small_sec":$d1%.2f,"probe_dry_10x_sec":$d2%.2f,""" +
        f""""probe_extend_small_sec":$e1%.2f,"probe_extend_10x_sec":$e2%.2f,""" +
        f""""dry_ratio_10x":${d2 / d1}%.2f,"extend_ratio_10x":${e2 / e1}%.2f}""")

    // Part 2 — the membership fold's touched-cluster proportionality:
    // a FIXED 50-pair window folded into a 5k-cluster vs a 10× larger
    // 50k-cluster persisted state must cost ~the same (each fold reads
    // only the touched clusters' rows via IN-pushdown + key bloom).
    val foldSecs = Seq(5000, 50000).map { n =>
      val wh = java.nio.file.Files.createTempDirectory(s"scale_cc_$n")
      val st = s"$wh/state"
      graft.ops.ClusterOps.componentsUpdate(spark,
        spark.range(n.toLong).select((col("id") * 2).as("a"),
          (col("id") * 2 + 1).as("b")),
        "a", "b", st)
      // three DISTINCT windows (a retried window folds as a no-op and
      // would flatter the timing), each joining one new member to 50
      // existing clusters; best-of-3
      (0 until 3).map { r =>
        timed(graft.ops.ClusterOps.componentsUpdate(spark,
          spark.range(50L * r, 50L * (r + 1))
            .select((col("id") * 2).as("a"),
              (col("id") * 2 + 10000000L).as("b")),
          "a", "b", st))._2
      }.min
    }
    println(
      s"""{"metric":"scale_evidence_fold","window_pairs":50,""" +
        s""""clusters_small":5000,"clusters_10x":50000,""" +
        f""""fold_small_sec":${foldSecs.head}%.2f,""" +
        f""""fold_10x_sec":${foldSecs.last}%.2f,""" +
        f""""fold_ratio_10x":${foldSecs.last / foldSecs.head}%.2f}""")

    // Part 3 — pair-log retention: nightly windows RE-CONFIRMING the
    // same clusters grow the log linearly forever while the closure
    // stays constant; sweepPairs must rewrite it down to the
    // membership-proportional star set. 6 windows × 5k pairs over 5k
    // 3-member clusters (edges alternate, so every window is new rows
    // but no new connectivity beyond window 2) = 30k log rows vs 10k
    // stars — the 3× reclaim a steady-state loop accrues.
    val wh3 = java.nio.file.Files.createTempDirectory("scale_sw")
    val pairsP = s"$wh3/pairs"; val st3 = s"$wh3/state"
    (0 until 6).foreach { w =>
      spark.range(5000L)
        .select((col("id") * 3).as("doc_a"),
          (col("id") * 3 + 1 + (w % 2)).as("doc_b"))
        .write.format("hadro")
        .mode(if (w == 0) "overwrite" else "append").save(pairsP)
      graft.ops.ClusterOps.componentsCycle(spark, pairsP, "sw_cur", st3)
      ()
    }
    val rowsBefore = graft.api.Collection(spark, pairsP).count()
    val (removed, sweepSec) = timed {
      graft.ops.ClusterOps.sweepPairs(spark, pairsP, st3)
    }
    val rowsAfter = graft.api.Collection(spark, pairsP).count()
    println(
      s"""{"metric":"scale_evidence_pairsweep","windows":6,""" +
        s""""log_rows_before":$rowsBefore,"log_rows_after":$rowsAfter,""" +
        s""""rows_removed":$removed,""" +
        f""""sweep_sec":$sweepSec%.2f,""" +
        f""""reclaim_ratio":${rowsBefore.toDouble / math.max(rowsAfter, 1L)}%.2f}""")
    spark.stop()
  }
}
