package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import java.awt.image.{BufferedImage, Raster}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{ImageIO, ImageReader}

/** Multimodal-column operators: opaque binary blobs with typed metadata,
  * decode / feature-extract / resize / frame-sample (BASELINE.json north
  * star — the image/audio path of a training-data pipeline).
  *
  * The image path is REAL: blobs are genuine PNG containers produced and
  * parsed by `javax.imageio` (JDK-built-in, zero extra deps), with the
  * format sniffed from the container magic bytes the way the KPL path
  * sniffs its magic. Because the pixels are generated deterministically
  * from doc_id and PNG is lossless, the DuckDB oracle can recompute every
  * decoded value arithmetically — a full-table proof that the decode
  * round-trips bit-exactly. Decode and resize run per `grouped(batchSize)`
  * slice — the `mapInPandas`-analog shape a model server needs to amortize
  * per-call overhead.
  *
  * 100 TB posture: blobs are opaque binary parquet columns, so scans prune
  * to (id, metadata) unless the blob is actually needed; decode is a
  * narrow per-partition pass with bounded batch memory (batchSize × blob
  * size); no shuffle anywhere in the decode path.
  */
object Multimodal {

  /** Real image codec over `javax.imageio`. Encode side exists only to
    * synthesize fixtures (pixel (x,y,band) = `sample(docId,x,y,band)`);
    * decode side is the operator under test: magic-byte format sniffing
    * via `ImageIO.getImageReaders`, then a real PNG/BMP parse to planar
    * samples. Stats are band-order-invariant (sum/min/max over all
    * samples) so they hold whatever raster layout the reader returns.
    */
  object ImageCodec {
    // ImageIO's stream factories default to a DISK-backed cache: every
    // encode/decode spawns (and deletes) a temp file under java.io.tmpdir,
    // which serializes on the filesystem across executor threads — at sf2
    // (100k blobs × 32 threads) the decode queries grew ~4× for 2× rows
    // from tempfile contention alone. These blobs are KBs; cache in
    // memory. JVM-global, set once at class-init of the codec.
    ImageIO.setUseCache(false)

    /** Deterministic pixel generator, mirrored arithmetically by the
      * DuckDB oracle: nonneg, so `%` agrees across engines.
      */
    def sample(docId: Long, x: Int, y: Int, band: Int): Int =
      ((docId * 31 + x * 7 + y * 13 + band * 97) % 256).toInt

    /** Per-doc image shape: width 4..16, height 4..14, channels in
      * {1 gray, 3 RGB, 4 RGBA} — the three PNG color types ImageIO
      * round-trips losslessly at 8 bits.
      */
    def dims(docId: Long): (Int, Int, Int) = (
      4 + (docId % 13).toInt,
      4 + (docId % 11).toInt,
      (docId % 3) match { case 0 => 1; case 1 => 3; case _ => 4 })

    def encode(docId: Long, w: Int, h: Int, channels: Int,
        format: String = "png"): Array[Byte] = {
      val imgType = channels match {
        case 1 => BufferedImage.TYPE_BYTE_GRAY
        case 3 => BufferedImage.TYPE_3BYTE_BGR
        case _ => BufferedImage.TYPE_4BYTE_ABGR
      }
      val img = new BufferedImage(w, h, imgType)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var b = 0
          while (b < channels) {
            raster.setSample(x, y, b, sample(docId, x, y, b)); b += 1
          }
          x += 1
        }
        y += 1
      }
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, format, bos)
      bos.toByteArray
    }

    final case class Decoded(format: String, width: Int, height: Int,
        channels: Int, sampleSum: Long, sampleMin: Int, sampleMax: Int)

    /** Sniff the container format from its magic bytes, then fully decode
      * and fold band-order-invariant sample stats. Null on a foreign blob
      * (no registered reader claims it) — same drop posture as the KPL
      * decoder.
      */
    def decode(blob: Array[Byte]): Decoded = withReader[Decoded](blob) { reader =>
      val fmt = reader.getFormatName.toLowerCase
      val img = reader.read(0)
      val (w, h, raster) = (img.getWidth, img.getHeight, img.getRaster)
      val (sum, min, max) = sampleStats(raster, w, h, step = 1)
      Decoded(fmt, w, h, raster.getNumBands, sum, min, max)
    }

    /** Full raster decode for pixel-level ops (resize); null on foreign
      * blobs — same drop posture as [[decode]].
      */
    def decodeImage(blob: Array[Byte]): BufferedImage =
      withReader[BufferedImage](blob)(_.read(0))

    /** `f` applied to the ImageIO reader that claims `blob`'s container,
      * or null for a null blob or one no registered reader claims.
      */
    private def withReader[T >: Null](blob: Array[Byte])(f: ImageReader => T): T = {
      if (blob == null) return null
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(blob))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return null
        val reader = readers.next()
        reader.setInput(iis)
        try f(reader) finally reader.dispose()
      } finally iis.close()
    }

    /** (sum, min, max) over every band's sample at pixels (step·x, step·y)
      * for x < w, y < h — the band-order-invariant stats both the decode
      * (step 1) and the half resize (step 2) fold.
      */
    private[operators] def sampleStats(raster: Raster, w: Int, h: Int,
        step: Int): (Long, Int, Int) = {
      val c = raster.getNumBands
      var sum = 0L; var min = Int.MaxValue; var max = Int.MinValue
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var b = 0
          while (b < c) {
            val v = raster.getSample(step * x, step * y, b)
            sum += v
            if (v < min) min = v
            if (v > max) max = v
            b += 1
          }
          x += 1
        }
        y += 1
      }
      (sum, min, max)
    }
  }

  final case class MmIn(doc_id: Long, data: Array[Byte])
  final case class ImgDecoded(doc_id: Long, format: String, width: Int,
      height: Int, channels: Int, sample_sum: Long, sample_min: Int,
      sample_max: Int)

  /** Batched REAL image decode in the mapInPandas-analog batch shape: each
    * `grouped(batchSize)` slice is one bounded-memory unit of work per task
    * (batchSize × blob size), decode runs entirely executor-side with no
    * shuffle. A foreign/undecodable blob (decode →
    * null) DROPS the row — same posture as the KPL decoder — rather than
    * killing the task.
    */
  def decodeImages(in: org.apache.spark.sql.Dataset[MmIn],
      batchSize: Int = 64): org.apache.spark.sql.Dataset[ImgDecoded] = {
    import in.sparkSession.implicits._
    in.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.flatMap { r =>
          Option(ImageCodec.decode(r.data)).map { d =>
            ImgDecoded(r.doc_id, d.format, d.width, d.height, d.channels,
              d.sampleSum, d.sampleMin, d.sampleMax)
          }
        }
      }
    }
  }

  final case class ImgResizedStats(doc_id: Long, rw: Int, rh: Int,
      rsum: Long, rmin: Int, rmax: Int)

  /** Batched REAL half-resolution resize: decode the PNG raster, take the
    * nearest-neighbor downsample (source pixel (2x, 2y) per target pixel —
    * the deterministic resize mode, so the oracle can regenerate every
    * resized sample arithmetically), fold stats. Same bounded-batch
    * mapPartitions shape and null-drop posture as [[decodeImages]];
    * degenerate targets (rw or rh = 0) drop like undecodable blobs.
    */
  def resizeHalfStats(in: org.apache.spark.sql.Dataset[MmIn],
      batchSize: Int = 64): org.apache.spark.sql.Dataset[ImgResizedStats] = {
    import in.sparkSession.implicits._
    in.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.flatMap { r =>
          Option(ImageCodec.decodeImage(r.data)).flatMap { img =>
            val rw = img.getWidth / 2
            val rh = img.getHeight / 2
            if (rw == 0 || rh == 0) None
            else {
              val (sum, mn, mx) = ImageCodec.sampleStats(img.getRaster, rw, rh, step = 2)
              Some(ImgResizedStats(r.doc_id, rw, rh, sum, mn, mx))
            }
          }
        }
      }
    }
  }

  private val encodePng = udf { (docId: Long) =>
    val (w, h, c) = ImageCodec.dims(docId)
    ImageCodec.encode(docId, w, h, c)
  }

  /** Real PNG blob table synthesized from documents: one genuine PNG per
    * doc, shape and pixels derived deterministically from doc_id (see
    * [[ImageCodec.sample]]).
    */
  private def pngBlobs(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), encodePng(col("doc_id")).as("data")).as[MmIn]
  }

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------- Q60
    // REAL image metadata decode + resize plumbing: each document becomes a
    // genuine PNG (javax.imageio), the format is sniffed from the magic
    // bytes and the container fully parsed back; emit the decoded header
    // plus a half-resolution resize plan. The oracle recomputes what the
    // decode must return from the generating arithmetic — an end-to-end
    // proof the real encode/parse round-trips.
    Q("q60_mm_metadata", Some("""
      SELECT doc_id, 'png' AS format,
        CAST(4 + doc_id % 13 AS INT) AS width,
        CAST(4 + doc_id % 11 AS INT) AS height,
        CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS INT) AS channels,
        CAST((4 + doc_id % 13) * (4 + doc_id % 11) *
             (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END) AS BIGINT) AS sample_count,
        CAST((4 + doc_id % 13) // 2 AS INT) AS resized_w,
        CAST((4 + doc_id % 11) // 2 AS INT) AS resized_h
      FROM documents""")) { (s, dir) =>
      decodeImages(pngBlobs(s, dir)).toDF()
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("channels"),
          (col("width").cast("long") * col("height") * col("channels"))
            .as("sample_count"),
          expr("width div 2").cast("int").as("resized_w"),
          expr("height div 2").cast("int").as("resized_h"))
    },

    // ---------------------------------------------------------------- Q61
    // REAL decoded-pixel statistics: the same PNG blobs parsed back to raw
    // samples in the batched mapPartitions kernel, folded to band-order-
    // invariant stats. PNG is lossless, so the oracle reproduces every
    // value by regenerating the pixel lattice arithmetically (documents ×
    // x-range × y-range × band-range) — any decoder bit-error breaks the
    // hash. mean_milli stays in integer arithmetic (floor division) so
    // both engines agree exactly.
    Q("q61_mm_features", Some("""
      WITH px AS (
        SELECT d.doc_id,
          (d.doc_id * 31 + x.xi * 7 + y.yi * 13 + b.bi * 97) % 256 AS val
        FROM documents d, range(0, 16) x(xi), range(0, 14) y(yi), range(0, 4) b(bi)
        WHERE x.xi < 4 + d.doc_id % 13
          AND y.yi < 4 + d.doc_id % 11
          AND b.bi < CASE d.doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
      )
      SELECT doc_id,
        CAST(sum(val) AS BIGINT) AS sample_sum,
        CAST(min(val) AS INT) AS sample_min,
        CAST(max(val) AS INT) AS sample_max,
        CAST(sum(val) * 1000 // count(*) AS BIGINT) AS mean_milli
      FROM px GROUP BY doc_id""")) { (s, dir) =>
      decodeImages(pngBlobs(s, dir)).toDF()
        .select(col("doc_id"), col("sample_sum"), col("sample_min"),
          col("sample_max"),
          expr("sample_sum * 1000 div (CAST(width AS BIGINT) * height * channels)")
            .as("mean_milli"))
    },

    // ---------------------------------------------------------------- Q62
    // Frame sampling: 4 fixed-stride 8-byte frames from each payload — the
    // video-keyframe access pattern (seek offsets, no full decode).
    Q("q62_mm_framesample", Some("""
      SELECT doc_id,
        array_to_string([ substr(text, 1 + j * (length(text) // 4), 8)
                          for j in range(0, 4) ], '|') AS frames
      FROM documents""")) { (s, dir) =>
      Tables.t(s, dir, "documents")
        .selectExpr("doc_id", """
          array_join(transform(sequence(0, 3), j ->
            substring(text, 1 + j * (length(text) div 4), 8)), '|') AS frames""")
    },

    // --------------------------------------------------------------- Q109
    // REAL image RESIZE: q60 only plans the half-resolution target; this
    // executes it — decode the PNG raster, nearest-neighbor downsample
    // (target pixel (x, y) ← source pixel (2x, 2y)), fold stats over the
    // resized raster. Deterministic pixel generation makes the resize
    // itself oracle-able: DuckDB regenerates exactly the even-coordinate
    // lattice samples and must agree bit-for-bit. Same scale posture as
    // q61: narrow batched per-partition decode pass, no shuffle until the
    // (tiny) result.
    Q("q109_mm_resize", Some("""
      WITH px AS (
        SELECT d.doc_id,
          CAST((4 + d.doc_id % 13) // 2 AS INT) AS rw,
          CAST((4 + d.doc_id % 11) // 2 AS INT) AS rh,
          (d.doc_id * 31 + (2 * x.xi) * 7 + (2 * y.yi) * 13 + b.bi * 97) % 256 AS val
        FROM documents d, range(0, 8) x(xi), range(0, 7) y(yi), range(0, 4) b(bi)
        WHERE x.xi < (4 + d.doc_id % 13) // 2
          AND y.yi < (4 + d.doc_id % 11) // 2
          AND b.bi < CASE d.doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
      )
      SELECT doc_id, rw, rh,
        CAST(sum(val) AS BIGINT) AS rsum,
        CAST(min(val) AS INT) AS rmin,
        CAST(max(val) AS INT) AS rmax
      FROM px GROUP BY doc_id, rw, rh""")) { (s, dir) =>
      resizeHalfStats(pngBlobs(s, dir)).toDF()
    }
  )
}
