package graft.functions

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Scratch
import graft.TripleStore.table

/** Multimodal column plumbing: media as opaque `binary` columns with typed
  * metadata, processed by batch-shaped feature extractors.
  *
  * The container has no image/audio codecs, so PIXEL decode stays stubbed:
  * [[fakeDecode]] is a deterministic byte-level "decoder" standing in for a
  * real decode/resize/frame-sample kernel. Header decode is REAL:
  * [[imageDims]] parses PNG IHDR / JPEG SOFn / GIF logical-screen
  * dimensions from the actual container bytes ([[headerDecode]] /
  * [[extractImageFeatures]]), round-tripped in spec against files written
  * by the JVM's own encoders. Everything around it is the real
  * plumbing a 100 TB multimodal pipeline needs and is tested: a binary
  * column + metadata struct schema, a typed `Dataset` boundary with
  * per-partition batch shape (`mapPartitions`, the JVM analog of
  * `mapInPandas`' arrow-batch contract), and fixed-width feature vectors as
  * `Array[Float]` ready for the [[graft.operators.Vectors]] ANN path.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, media: Array[Byte], format: String,
      n_bytes: Long)
  case class MediaFeatures(doc_id: Long, n_bytes: Long, width: Int,
      height: Int, features: Array[Float])

  /** PRODUCTION media source: a directory of real files through Spark's
    * `binaryFile` source — each file becomes one row with its bytes as the
    * opaque payload, no driver-side file walking (listing, splitting and
    * scheduling are the data source's job, so a 100 TB media lake reads like
    * any other table; pair with `spark.sql.files.maxPartitionBytes` to bound
    * files-per-task). The doc id is the trailing digit run of the file's base
    * name (`<id>.<ext>`), the format is the extension, and `n_bytes` comes
    * from the source's `length` column, NOT from re-measuring the payload.
    *
    * A file that does not conform (no trailing digit run before the
    * extension) FAILS LOUDLY with its full path — the FAILFAST policy the
    * JSONL source uses — rather than surfacing later as an opaque
    * "null in non-nullable field" encoder error. Note the id is the BASE
    * name only: same-named files in different subdirectories collide on
    * `doc_id`, so point recursive loads at layouts where the digit run is
    * globally unique. */
  def mediaFromFiles(spark: SparkSession, path: String): Dataset[MediaRow] = {
    import spark.implicits._
    val idStr = regexp_extract(col("path"), "([0-9]+)[.][^./]*$", 1)
    // try_cast, not cast: a digit run beyond Long range must take the
    // descriptive error below, not an ANSI CAST_OVERFLOW that names only
    // the number and loses the offending path
    val idNum = idStr.try_cast(LongType)
    spark.read.format("binaryFile").load(path)
      .select(
        when(idStr === "" || idNum.isNull, raise_error(concat(
            lit("mediaFromFiles: file name has no trailing <id>.<ext> " +
              "digit run in Long range: "), col("path"))))
          .otherwise(idNum).as("doc_id"),
        col("content").as("media"),
        regexp_extract(col("path"), "[.]([^./]+)$", 1).as("format"),
        col("length").as("n_bytes"))
      .as[MediaRow]
  }

  /** STUB decoder: deterministic fake. A real implementation would decode
    * the codec and produce pixels/samples; this computes an 8-bin byte
    * histogram (normalized) and fake dimensions from the length, preserving
    * exactly the properties the pipeline depends on: fixed feature width,
    * determinism, and per-row independence. */
  def fakeDecode(row: MediaRow): MediaFeatures = {
    val hist = new Array[Float](8)
    var i = 0
    while (i < row.media.length) {
      hist(((row.media(i) & 0xff) >> 5)) += 1f
      i += 1
    }
    val n = math.max(1, row.media.length).toFloat
    var k = 0
    while (k < 8) { hist(k) /= n; k += 1 }
    MediaFeatures(row.doc_id, row.n_bytes,
      width = (row.n_bytes % 640).toInt, height = (row.n_bytes % 480).toInt,
      features = hist)
  }

  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  /** REAL image-header decode: (width, height) parsed from the payload's
    * actual container bytes, pure JVM, no codec dependency. Recognizes
    *  - PNG — the 8-byte signature, then the mandatory first chunk IHDR
    *    with width/height as big-endian u32 (PNG spec §11.2.2, RFC 2083);
    *  - JPEG/JFIF — walk the FF-marker segment chain from SOI to the first
    *    frame header SOFn (0xC0–0xCF minus DHT 0xC4 / JPG 0xC8 / DAC 0xCC;
    *    covers baseline SOF0 AND progressive SOF2), whose payload is
    *    [precision u8][height u16be][width u16be] (ITU T.81 §B.2.2) —
    *    skipping over APPn/EXIF/comment segments by their length fields;
    *  - GIF87a/89a — logical-screen width/height as little-endian u16 at
    *    offsets 6/8.
    * `None` for anything else — truncated, desynced, or simply not an
    * image — so callers degrade instead of throwing on a poison row. */
  def imageDims(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length >= 24 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
        b(2) == 'N' && b(3) == 'G' && b(12) == 'I' && b(13) == 'H' &&
        b(14) == 'D' && b(15) == 'R')
      Some((be32(b, 16), be32(b, 20)))
    else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var i = 2
      while (i + 9 < b.length) {
        if ((b(i) & 0xff) != 0xff) return None // marker desync: give up
        val m = b(i + 1) & 0xff
        if (m == 0xff) i += 1 // fill byte before a marker
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2 // standalone
        else {
          val len = be16(b, i + 2)
          if (len < 2) return None
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
            // a frame header shorter than len(2)+precision(1)+h(2)+w(2)+
            // ncomp(1) = 8 cannot hold the dims — reading them would take
            // bytes from the NEXT segment (garbage, not a truncation error)
            if (len < 8) return None
            return Some((be16(b, i + 7), be16(b, i + 5)))
          }
          i += 2 + len
        }
      }
      None
    } else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      Some(((b(6) & 0xff) | ((b(7) & 0xff) << 8),
        (b(8) & 0xff) | ((b(9) & 0xff) << 8)))
    else None
  }

  /** Honest decoder: real dimensions from [[imageDims]] when the payload IS
    * an image (PNG/JPEG/GIF), the stub's synthetic dims otherwise (the
    * text-derived fixtures aren't images and still need deterministic
    * output). The feature histogram is byte-level either way — pixel-level
    * features would need a full codec, which this container lacks. */
  def headerDecode(row: MediaRow): MediaFeatures = {
    val base = fakeDecode(row)
    imageDims(row.media) match {
      case Some((w, h)) => base.copy(width = w, height = h)
      case None => base
    }
  }

  /** Batch feature extraction through the honest [[headerDecode]] with
    * `mapPartitions` — one decoder instantiation per partition (the
    * expensive-init pattern real codecs need), rows streamed through it. */
  def extractImageFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // real pipeline: initialize the codec/model once per partition here
      rows.map(headerDecode)
    }
  }

  case class MediaFrame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Frame sampling: explode a media payload into every `stride`-th
    * fixed-size "frame" — the video keyframe-sampling pattern. The byte
    * slicer stands in for a real demuxer (none in this container), but the
    * plumbing is the production shape: one row in → N typed frame rows out
    * via `flatMap` (so a long video never materializes as one task-local
    * array-of-frames), stable `frame_idx` for downstream ordering, bounded
    * per-frame memory, and frames land as binary columns ready for
    * per-partition decoders like [[extractImageFeatures]]. */
  def sampleFrames(media: Dataset[MediaRow], frameBytes: Int,
      stride: Int): Dataset[MediaFrame] = {
    require(frameBytes > 0 && stride > 0)
    import media.sparkSession.implicits._
    media.flatMap { row =>
      val n = row.media.length
      Iterator.range(0, (n + frameBytes - 1) / frameBytes)
        .filter(_ % stride == 0)
        .map { f =>
          MediaFrame(row.doc_id, f,
            java.util.Arrays.copyOfRange(row.media, f * frameBytes,
              math.min(n, (f + 1) * frameBytes)))
        }
    }
  }

  /** Q23 gate query: the SQL-expressible slice of the media pipeline —
    * binary payload size + content signature per media row. */
  def q23MultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"),
        lit("text/plain").as("format"),
        octet_length(col("text")).cast(LongType).as("n_bytes"),
        substring(md5(col("text")), 1, 16).as("content_sig"))
      .orderBy("doc_id")

  val q23Sql: String =
    """SELECT doc_id, 'text/plain' AS format,
      |       CAST(strlen(text) AS BIGINT) AS n_bytes,
      |       substr(md5(text), 1, 16) AS content_sig
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- Q77: the REAL header-decode path, driver-gated -----------------------

  /** q77's deterministic dimension derivation — shared by the payload
    * builder and (re-stated literally) by [[q77Sql]]: width/height are
    * modular functions of `doc_id`, small enough for GIF's u16 fields.
    * `doc_id` is non-negative in every driver corpus (adversarial
    * included), so `%` agrees between engines without sign gymnastics. */
  private def q77Dims(id: Long): (Int, Int) =
    ((id % 509 + 1).toInt, (id % 389 + 1).toInt)

  /** Deterministic container bytes for q77 (the q59 plant-the-payload
    * pattern): each doc_id yields a REAL image container whose header
    * encodes [[q77Dims]] — rotating PNG (8-byte signature + IHDR chunk
    * with big-endian u32 dims, PNG spec §11.2.2), JPEG (SOI, a skipped
    * APP0 segment, then SOF0 with u16 height/width — ITU T.81 §B.2.2, the
    * marker WALK is exercised, not just the magic), GIF89a (little-endian
    * u16 logical-screen dims), and a deliberately NON-image payload that
    * must take [[imageDims]]' `None` degradation. The doc_id's decimal
    * digits are appended to every payload so `n_bytes` varies per row and
    * the decoder demonstrably reads HEADERS, not payload length. */
  private[graft] def syntheticContainer(id: Long): (Array[Byte], String) = {
    // the non-negativity invariant ENFORCED, not just stated:
    // a negative id would make the Scala `%` formulas, the element_at
    // container label, and the oracle's CASE arms silently diverge — a
    // future corpus with negative doc_ids must fail here, loudly, naming
    // the id, instead of hash-mismatching three different ways
    require(id >= 0, s"syntheticContainer: negative doc_id $id — the q77 " +
      "dims/container formulas assume non-negative ids")
    val (w, h) = q77Dims(id)
    def be32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def be16(v: Int) = Array[Byte]((v >>> 8).toByte, v.toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte)
    val digits = id.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    (id % 4) match {
      case 0 => // PNG: signature + IHDR length/tag + be32 dims (24 bytes)
        (Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
          0, 0, 0, 13) ++ "IHDR".getBytes ++ be32(w) ++ be32(h) ++ digits,
          "png")
      case 1 => // JPEG: SOI, APP0 (len 4, skipped by the walk), SOF0
        (Array[Byte](0xff.toByte, 0xd8.toByte,
          0xff.toByte, 0xe0.toByte, 0x00, 0x04, 'J', 'F',
          0xff.toByte, 0xc0.toByte, 0x00, 0x0b, 0x08) ++
          be16(h) ++ be16(w) ++ Array[Byte](0x01, 0x01, 0x11, 0x00) ++
          digits, "jpeg")
      case 2 => // GIF89a: logical-screen descriptor, le16 dims (10 bytes)
        ("GIF89a".getBytes ++ le16(w) ++ le16(h) ++ digits, "gif")
      case _ => // not an image — MUST degrade to the fallback dims
        ("NOTANIMAGE".getBytes ++ digits, "raw")
    }
  }

  /** Q77: the production media pipeline DRIVER-GATED end-to-end (q23
    * reads `documents.text` and never reaches the header decode). Every
    * `documents` row becomes a typed [[MediaRow]] carrying REAL container
    * bytes ([[syntheticContainer]]), flows through the per-partition batch
    * pipeline [[extractImageFeatures]] → [[headerDecode]] →
    * [[imageDims]], and the decoded dimensions are hashed by the driver.
    * The oracle re-derives the dims from the doc_id formula alone, so a
    * broken parser (or a silent fall-through to [[fakeDecode]]'s synthetic
    * dims on image rows) hash-mismatches: png/jpeg/gif widths would become
    * `n_bytes % 640`, which never equals `doc_id % 509 + 1` here since
    * every payload is < 60 bytes. Map-only at any scale — the per-row cost
    * is the decode itself, the 100 TB shape of a media-metadata backfill. */
  def q77MediaDims(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = table(spark, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val (bytes, fmt) = syntheticContainer(id)
        MediaRow(id, bytes, fmt, bytes.length.toLong)
      }
    extractImageFeatures(media).toDF()
      .select(col("doc_id"),
        // container label re-derived from the same doc_id formula (the
        // typed MediaFeatures row deliberately drops format — re-deriving
        // beats a join that exists only to carry a constant-per-residue
        // label through the decode)
        element_at(
          array(lit("png"), lit("jpeg"), lit("gif"), lit("raw")),
          (col("doc_id") % 4 + 1).cast("int")).as("container"),
        col("n_bytes"),
        col("width").cast(LongType).as("width"),
        col("height").cast(LongType).as("height"))
      .orderBy("doc_id")
  }

  // --- Q82: the production binaryFile media SOURCE, driver-gated ------------

  /** Once-per-JVM materialization of q77's synthetic containers as REAL
    * `<doc_id>.<ext>` files in a scratch directory — the fixture that lets
    * the production [[mediaFromFiles]] source execute in the driver gate.
    * The writer is DISTRIBUTED: `foreachPartition` generates and writes
    * each partition's files executor-side (the closure captures only the
    * target path and the session's Hadoop conf; [[syntheticContainer]] is
    * re-derived per row from the id), so the fixture generator scales with
    * the cluster instead of funnelling every container through one driver
    * loop. Each task resolves the target to the session's filesystem, the
    * one Spark reads the fixture back through. Memoized per sf dir. */
  def mediaFilesPath(spark: SparkSession, dir: String): String =
    Scratch.once(("mediaFiles", dir)) {
      import spark.implicits._
      val out = Scratch.path(spark, "graft_media_files")
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      table(spark, dir, "documents").select(col("doc_id")).as[Long]
        .foreachPartition { (ids: Iterator[Long]) =>
          val fs = new Path(out).getFileSystem(conf.value)
          ids.foreach { id =>
            val (bytes, ext) = syntheticContainer(id)
            val file = fs.create(new Path(out, s"$id.$ext"))
            try file.write(bytes) finally file.close()
          }
        }
      out
    }

  /** Q82: the production media SOURCE driver-gated end-to-end — the one
    * media path q77 still bypassed (it synthesizes container bytes in a
    * typed map; the path a real media lake enters through is files). The
    * same synthetic containers land as real `<doc_id>.<ext>` files
    * ([[mediaFilesPath]]), are loaded through [[mediaFromFiles]] — Spark's
    * `binaryFile` source, id parsed from the path under the FAILFAST
    * policy, `n_bytes` from the source's `length` column — decoded by the
    * production [[extractImageFeatures]] batch path, and re-joined with the
    * source's parsed `format` column so the extension parse is itself part
    * of the hashed relation (a label the q77 shape re-derives from the id
    * formula instead). Oracle: [[q77Sql]] VERBATIM — file length equals
    * container length, the parsed extension equals the formula's container
    * label, and the decoded dims must match the formula or the hash breaks.
    * Reference anchor: O15's file-shaped ingest (`MongoDBConnector.py:243`
    * reads the corpus from a data file; the brief's multimodal pillar).
    * Scale shape: the source lists/splits/schedules files like any other
    * table (bound files-per-task with `spark.sql.files.maxPartitionBytes`);
    * decode is map-only; the format join is a co-keyed self-derived join
    * the optimizer broadcasts at gate scale. */
  def q82MediaFiles(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaFromFiles(spark, mediaFilesPath(spark, dir))
    extractImageFeatures(media).toDF()
      .join(media.toDF().select(col("doc_id"), col("format").as("container")),
        Seq("doc_id"))
      .select(col("doc_id"), col("container"), col("n_bytes"),
        col("width").cast(LongType).as("width"),
        col("height").cast(LongType).as("height"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle: [[syntheticContainer]]'s derivation formulas stated in
    * SQL — header sizes (24/21/10/10) + decimal-digit count give n_bytes;
    * image rows carry the modular dims, the non-image row the
    * `n_bytes`-derived fallback ([[fakeDecode]]'s formula). Shared verbatim
    * by q77 (typed-map container path) and q82 (binaryFile source path):
    * the two entries must produce the SAME relation through different
    * ingest paths — the q31-vs-q3 discipline applied to media ingest. */
  val q77Sql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |         CASE CAST(doc_id % 4 AS INT)
      |           WHEN 0 THEN 24 WHEN 1 THEN 21 ELSE 10 END
      |           + strlen(CAST(doc_id AS VARCHAR)) AS n_bytes
      |  FROM documents)
      |SELECT doc_id,
      |       CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
      |            WHEN 2 THEN 'gif' ELSE 'raw' END AS container,
      |       CAST(n_bytes AS BIGINT) AS n_bytes,
      |       CAST(CASE WHEN doc_id % 4 = 3 THEN n_bytes % 640
      |                 ELSE doc_id % 509 + 1 END AS BIGINT) AS width,
      |       CAST(CASE WHEN doc_id % 4 = 3 THEN n_bytes % 480
      |                 ELSE doc_id % 389 + 1 END AS BIGINT) AS height
      |FROM m ORDER BY doc_id""".stripMargin
}
