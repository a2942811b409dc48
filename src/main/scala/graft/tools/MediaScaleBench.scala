package graft.tools

import org.apache.spark.sql.functions._

import graft.LocalSession
import graft.functions.Multimodal

/** The multimodal pillar's same-scale rehearsal (q77's decode path at
  * ~100× gate scale) — the last pillar without one after r13's sweep.
  *
  * 10M typed [[Multimodal.MediaRow]]s carrying REAL container bytes
  * (q77's `syntheticContainer` derivation: rotating PNG/JPEG/GIF headers
  * plus a non-image residue class) are driven through the production
  * per-partition batch decoder ([[Multimodal.extractImageFeatures]] →
  * `headerDecode`/`imageDims`) and the frame sampler. What 100 TB needs
  * and the 500-row gate can't show:
  *
  *   - THROUGHPUT: rows/s through the typed `mapPartitions` boundary with
  *     encoding, header parsing and the byte-histogram features all in
  *     the loop — the per-row budget of a media-metadata backfill. The
  *     timed legs materialize through the noop sink (BENCH_METHOD rule 1;
  *     a count would prune nothing here — the map is opaque — but the
  *     convention keeps the tools comparable).
  *   - CORRECTNESS AT SCALE, distributed: every decoded dimension is
  *     re-checked against the doc_id derivation formula as a Spark-side
  *     aggregate (violations MUST be zero; a non-zero count exits 1) —
  *     the q77 oracle relation verified over 10M rows instead of 500.
  *   - FRAME EXPLOSION: `sampleFrames` fan-out row count and wall, the
  *     one-row-in/N-out shape a video pipeline pays.
  *
  * Prints one JSON line. Usage:
  *   sbt "runMain graft.tools.MediaScaleBench [rows]"
  */
object MediaScaleBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 10000000L
    val spark = LocalSession.create()
    import spark.implicits._

    def media = spark.range(n).as[Long].map { id =>
      val (bytes, fmt) = Multimodal.syntheticContainer(id)
      Multimodal.MediaRow(id, bytes, fmt, bytes.length.toLong)
    }

    // leg 1: the decode pipeline end-to-end, noop-materialized
    val (_, tDecode) = Harness.timed {
      Multimodal.extractImageFeatures(media)
        .write.format("noop").mode("overwrite").save()
    }

    // distributed re-check of the q77 relation at scale: decoded dims must
    // equal the derivation formula on EVERY row (image residues: modular
    // dims; raw residue: the fallback n_bytes formula)
    val feats = Multimodal.extractImageFeatures(media).toDF()
    val wantW = when(col("doc_id") % 4 === 3, col("n_bytes") % 640)
      .otherwise(col("doc_id") % 509 + 1)
    val wantH = when(col("doc_id") % 4 === 3, col("n_bytes") % 480)
      .otherwise(col("doc_id") % 389 + 1)
    val violations = feats
      .filter(col("width") =!= wantW || col("height") =!= wantH)
      .count()

    // leg 2: frame sampling fan-out (8-byte frames, every 2nd kept)
    val (nFrames, tFrames) = Harness.timed {
      val frames = Multimodal.sampleFrames(media, frameBytes = 8, stride = 2)
      val acc = spark.sparkContext.longAccumulator("frames")
      frames.foreachPartition { (it: Iterator[Multimodal.MediaFrame]) =>
        var c = 0L
        while (it.hasNext) { it.next(); c += 1 }
        acc.add(c)
      }
      acc.value.longValue()
    }

    Harness.emit("metric" -> "media_scale", "rows" -> n,
      "decode_sec" -> tDecode, "decode_rows_per_sec" -> n / tDecode,
      "dim_violations" -> violations, "frames" -> nFrames,
      "frames_sec" -> tFrames)
    spark.stop()
    if (violations != 0) {
      System.err.println(s"[media_scale] $violations dimension mismatches " +
        "— the decoder disagreed with the derivation formula at scale")
      sys.exit(1)
    }
  }
}
