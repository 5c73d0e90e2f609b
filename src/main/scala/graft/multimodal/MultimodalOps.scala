package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns + a typed metadata struct, with decode / feature
  * extraction staged as per-partition batch functions.
  *
  * PNG and JPEG payloads decode FOR REAL through javax.imageio
  * (JDK-native, no extra dependency): magic-sniffed, header-bounded
  * dimension reads, and a deterministic integer nearest-neighbor
  * resize with PNG re-encode. Non-image bytes (the documents fixtures
  * are text) fall back to `decodeStub`'s deterministic fake metadata,
  * which keeps the differential oracles byte-stable; audio/video
  * decoding would slot into the same per-partition batch shape via
  * JNI/FFM.
  *
  * Scale notes: payloads stay opaque binary end-to-end (never stringified,
  * never collected); decode runs inside mapPartitions so a real decoder
  * amortizes init per partition, and `spark.sql.files.maxPartitionBytes`
  * controls batch size against executor memory. The dimension sniff
  * reads only the container header; full pixel decode is gated on a
  * 64-megapixel cap so a hostile payload cannot balloon executor
  * memory.
  */
object MultimodalOps {

  private val MaxPixels = 64000000L

  /** Magic-sniff: is this plausibly a PNG/JPEG payload? */
  private def looksLikeImage(payload: Array[Byte]): Boolean =
    payload != null && payload.length >= 4 && {
      val png = (payload(0) & 0xff) == 0x89 && payload(1) == 'P' &&
        payload(2) == 'N' && payload(3) == 'G'
      val jpg = (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8
      png || jpg
    }

  /** Header-bounded (width, height) of a PNG/JPEG payload — the
    * ImageReader reads only the container header, no pixel work. */
  private[multimodal] def imageDims(payload: Array[Byte]): Option[(Int, Int)] = {
    if (!looksLikeImage(payload)) return None
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          r.setInput(iis)
          try Some((r.getWidth(0), r.getHeight(0))) finally r.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => None }
  }

  /** Full bounded pixel decode (None when not an image or over the
    * megapixel cap). */
  private[multimodal] def readImage(
      payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    imageDims(payload) match {
      case Some((w, h)) if w > 0 && h > 0 && w.toLong * h <= MaxPixels =>
        try Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload)))
        catch { case _: Exception => None }
      case _ => None
    }

  /** Deterministic integer nearest-neighbor scale: source index =
    * (dst·src)/dstSize in integer arithmetic — reproducible across
    * JVMs (no Graphics2D rendering pipeline involved). */
  private[multimodal] def nnResize(img: java.awt.image.BufferedImage,
                                   nw: Int, nh: Int): java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(
      nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val w = img.getWidth; val h = img.getHeight
    var y = 0
    while (y < nh) {
      val sy = math.min(h - 1, y * h / nh)
      var x = 0
      while (x < nw) {
        val sx = math.min(w - 1, x * w / nw)
        out.setRGB(x, y, img.getRGB(sx, sy) & 0xffffff)
        x += 1
      }
      y += 1
    }
    out
  }

  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Canonical multimodal schema: id + payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true))), nullable = true)))

  /** Wrap any table with a string column into the media schema (test
    * vehicle: utf-8 bytes stand in for an encoded image). */
  def asMedia(df: DataFrame, id: String, payloadText: String): DataFrame =
    df.select(
      col(id).cast(LongType).as("media_id"),
      encode(col(payloadText), "utf-8").as("payload"),
      struct(lit("application/octet-stream").as("mime"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(IntegerType).as("n_frames")).as("meta"))

  /** STUB decoder: deterministic fake dimensions from payload bytes.
    * A real implementation would parse the container header here. */
  private def decodeStub(payload: Array[Byte]): (Int, Int, Int) = {
    if (payload == null || payload.isEmpty) (0, 0, 0)
    else {
      val b0 = payload(0) & 0xff
      val b1 = if (payload.length > 1) payload(1) & 0xff else 0
      (64 + (b0 % 16) * 64, 64 + (b1 % 9) * 64, 1 + payload.length % 30)
    }
  }

  /** Per-partition decode pass: payload → (width, height, n_frames,
    * n_bytes). Batch-shaped like a real decoder (one iterator pass,
    * no per-row session setup). */
  def decodeFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaInt,
      org.apache.spark.sql.Encoders.scalaInt,
      org.apache.spark.sql.Encoders.scalaInt,
      org.apache.spark.sql.Encoders.scalaLong)
    media.select("media_id", "payload")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          // real header-bounded decode for PNG/JPEG; stub for the rest
          val (w, h, f) = imageDims(payload) match {
            case Some((iw, ih)) => (iw, ih, 1)
            case None           => decodeStub(payload)
          }
          (id, w, h, f, if (payload == null) 0L else payload.length.toLong)
        }
      }(enc)
      .toDF("media_id", "width", "height", "n_frames", "n_bytes")
  }

  /** Resize pass: (payload, target box) → resized payload + new dims,
    * aspect-preserving fit. PNG/JPEG payloads go through the REAL
    * pipeline — bounded pixel decode, integer nearest-neighbor scale,
    * PNG re-encode. Non-image bytes keep the deterministic stub
    * truncation (sized like a real output), so text fixtures stay
    * oracle-stable while the image path is exercised by
    * MultimodalSpec's golden-pixel checks. Per-partition batch map
    * emitting binary — a JNI/FFM scaler for other media slots into the
    * same shape. */
  def resize(spark: SparkSession, media: DataFrame,
             targetW: Int, targetH: Int): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaInt,
      org.apache.spark.sql.Encoders.scalaInt,
      org.apache.spark.sql.Encoders.BINARY)
    media.select("media_id", "payload")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          readImage(payload) match {
            case Some(img) => // real decode → scale → re-encode
              val (w, h) = (img.getWidth, img.getHeight)
              val scale = math.min(targetW.toDouble / w, targetH.toDouble / h)
              val nw = math.max(1, (w * scale).toInt)
              val nh = math.max(1, (h * scale).toInt)
              (id, nw, nh, encodePng(nnResize(img, nw, nh)))
            case None =>
              val (w, h, _) = decodeStubPublic(payload)
              // aspect-preserving fit into the target box
              val scale =
                if (w <= 0 || h <= 0) 0.0
                else math.min(targetW.toDouble / w, targetH.toDouble / h)
              val (nw, nh) = (math.max(1, (w * scale).toInt),
                math.max(1, (h * scale).toInt))
              val outLen = math.min(
                if (payload == null) 0 else payload.length,
                math.max(1, nw * nh / 64))
              val out = if (payload == null) Array.empty[Byte]
                        else java.util.Arrays.copyOf(payload, outLen)
              (id, nw, nh, out)
          }
        }
      }(enc)
      .toDF("media_id", "width", "height", "payload")
  }

  private[graft] def decodeStubPublic(payload: Array[Byte]): (Int, Int, Int) =
    decodeStub(payload)
}
