package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

import graft.format.{Consistency, RecordCodec, SegmentReader, SegmentWriter}
import graft.meta.CollectionMeta

/** The meta layer: commits, live segments and manifest size and parse
  * time of the workload's collections. */
object Meta {
  def version(p: Path): Long = CollectionMeta.currentManifest(p).version

  def versions(colls: Seq[Path]): Map[Path, Long] = colls.map(p => p -> version(p)).toMap

  def report(colls: Seq[Path], before: Map[Path, Long],
      rec: Recorder): Seq[(String, Double, String)] = {
    val after = versions(colls)
    val commits = colls.map(p => after(p) - before.getOrElse(p, 0L)).sum.toDouble
    val windowCommits = commits - rec.values.getOrElse("commits_before_windows", 0.0)
    val writes = Seq("write", "backfill").map(rec.samples.get(_).map(_.size).getOrElse(0)).sum
    val manifests = colls.map(p => p -> CollectionMeta.currentManifest(p))
    val manifestBytes = manifests.map { case (p, m) =>
      val f = CollectionMeta.metaDir(p).resolve(f"manifest-${m.version}%010d.json")
      if (Files.exists(f)) Files.size(f) else 0L
    }.sum
    // a parse of every current manifest with the manifest cache emptied
    val parseMs = (0 until 7).map { _ =>
      colls.foreach(CollectionMeta.invalidateManifestCache)
      val t0 = System.nanoTime()
      colls.foreach(CollectionMeta.currentManifest)
      (System.nanoTime() - t0) / 1e6
    }
    Seq(
      ("meta.commits", commits, "count"),
      ("meta.commits_per_window", if (writes > 0) windowCommits / writes else 0.0, "count"),
      ("meta.live_segments", manifests.map(_._2.segments.size).sum.toDouble, "count"),
      ("meta.manifest_bytes", manifestBytes.toDouble, "bytes"),
      ("meta.manifest_parse_ms", Main.median(parseMs), "ms"))
  }
}

/** The format layer, timed by calling the segment writer and reader
  * directly on a sample of the workload's own rows, plain and with zstd. */
object FormatProbe {
  val Reps = 5

  def run(ctx: Ctx, sample: DataFrame, dir: Path): Seq[(String, Double, String)] = {
    Files.createDirectories(dir)
    val schema = sample.schema
    val rows: Array[InternalRow] =
      sample.queryExecution.toRdd.map(_.copy()).collect()
    val n = rows.length.toDouble
    val all = schema.fields.indices.toArray
    def encode(f: Path, zstd: Boolean): Unit = {
      Files.deleteIfExists(f)
      val w = new SegmentWriter(f, schema, Consistency.Relaxed,
        offsetIndex = false, compress = zstd)
      rows.foreach(w.append(_))
      w.close()
    }
    def decode(f: Path): Int = {
      val r = new SegmentReader(f)
      val d = new RecordCodec.Decoder(schema, all)
      var got = 0
      try while (r.advance()) {
        d.decode(r.buffer, r.payloadOffset, r.payloadLength)
        got += 1
      } finally r.close()
      got
    }
    // one untimed pass of each, so the timed ones run compiled code
    Seq(false, true).foreach { zstd =>
      val f = dir.resolve(s"warmup-$zstd.seg")
      encode(f, zstd)
      decode(f)
    }
    Seq(false -> "", true -> "zstd_").flatMap { case (zstd, prefix) =>
      val f = dir.resolve(s"probe-$prefix.seg")
      val enc = (0 until Reps).map { _ =>
        ctx.tr.format(s"${prefix}encode") {
          val t0 = System.nanoTime()
          encode(f, zstd)
          (System.nanoTime() - t0) / 1e9
        }
      }
      val dec = (0 until Reps).map { _ =>
        ctx.tr.format(s"${prefix}decode") {
          val t0 = System.nanoTime()
          val got = decode(f)
          val dt = (System.nanoTime() - t0) / 1e9
          ctx.rec.check(s"format ${prefix}decode row count")(got == rows.length)
          dt
        }
      }
      Seq(
        (s"format.${prefix}encode_rows_per_s", n / Main.median(enc), "rows/s"),
        (s"format.${prefix}decode_rows_per_s", n / Main.median(dec), "rows/s"),
        (s"format.${prefix}bytes_per_row", Files.size(f) / n, "bytes"))
    }
  }
}
