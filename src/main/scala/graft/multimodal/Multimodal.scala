package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Multimodal ("opaque binary + typed metadata") columns — north-star
  * extension; the reference's nearest analogue is its image handling
  * (SURVEY.md §2 S6-S8, K4: OpenCV/PIL reads, byte-offset JPEG dim sniff).
  *
  * Design for 100 TB: media bytes NEVER shuffle. Every operator here is a
  * map-side kernel over the binary column (decode, feature-extract,
  * frame-sample) that emits small typed columns; only those shuffle.
  * Ingestion is `binaryFile` (or parquet with a BinaryType column as
  * here); `spark.sql.files.maxPartitionBytes` sizes splits so a partition
  * of blobs fits executor memory.
  *
  * The container has no image/audio codecs, so the DECODE step is a
  * deterministic fake (`FakeCodec`): a self-describing header + payload
  * generated from the media id. The Spark-side plumbing — schema, batch
  * iteration, UDF signatures, partition behavior — is real and tested;
  * swapping FakeCodec for a JNI/javax codec changes one function.
  */
object Multimodal {

  /** The fake on-disk format: magic "GRFT", kind byte, width, height,
    * then `len` payload bytes b_i = (id*31 + i*7) mod 256. Closed-form
    * in the media id, so a DuckDB oracle can verify features computed
    * FROM THE BYTES against the generating formula analytically —
    * checking the byte plumbing without ever seeing the bytes.
    */
  object FakeCodec {
    val Magic: Array[Byte] = "GRFT".getBytes("US-ASCII")
    val HeaderLen = 13

    def payloadLen(id: Long): Int = (64 + (id % 128)).toInt
    def width(id: Long): Int = (16 + id % 48).toInt
    def height(id: Long): Int = (16 + id % 32).toInt
    def kindByte(id: Long): Byte = (id % 3).toByte // 0=image 1=audio 2=video

    def encode(id: Long): Array[Byte] = {
      val len = payloadLen(id)
      val out = new Array[Byte](HeaderLen + len)
      System.arraycopy(Magic, 0, out, 0, 4)
      out(4) = kindByte(id)
      val w = width(id); val h = height(id)
      out(5) = (w >> 24).toByte; out(6) = (w >> 16).toByte
      out(7) = (w >> 8).toByte; out(8) = w.toByte
      out(9) = (h >> 24).toByte; out(10) = (h >> 16).toByte
      out(11) = (h >> 8).toByte; out(12) = h.toByte
      var i = 0
      while (i < len) { out(HeaderLen + i) = ((id * 31 + i * 7) % 256).toByte; i += 1 }
      out
    }

    /** Header parse — the "decode" seam. Returns null on bad magic
      * (corrupt blob ⇒ null row, filtered downstream like F9).
      */
    def decodeMeta(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
      if (bytes == null || bytes.length < HeaderLen) return None
      var i = 0
      while (i < 4) { if (bytes(i) != Magic(i)) return None; i += 1 }
      def i32(o: Int): Int =
        ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
          ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)
      Some((bytes(4).toInt, i32(5), i32(9), bytes.length - HeaderLen))
    }
  }

  private val encodeUdf = udf((id: Long) => FakeCodec.encode(id))

  /** Media table derived from documents: one blob per doc, BinaryType
    * column + the id it was generated from.
    */
  def media(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("media_id"))
      .withColumn("bytes", encodeUdf(col("media_id")))

  /** [[media]] persisted once per (session, sfDir): q68/q90/q91/q92
    * each consume the same blobs, and per-query re-encoding paid the
    * UDF cost once per consumer — UDF-heavy queries were the noisiest
    * cluster in the round-3 bench.
    */
  def mediaCached(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.SessionCache.getOrPersist(spark, s"media:$sfDir")(media(spark, sfDir))

  /** The codec seam: bytes → (kind, width, height, payload_len), None on
    * undecodable input (corrupt blob ⇒ null row, filtered like F9).
    * Everything downstream of the seam — schema, UDF signature, null
    * handling, partition behavior — is codec-agnostic.
    */
  type MetaDecoder = Array[Byte] => Option[(String, Int, Int, Int)]

  /** The deterministic in-container decoder (see [[FakeCodec]]). */
  val fakeDecoder: MetaDecoder = bytes =>
    FakeCodec.decodeMeta(bytes).map { case (k, w, h, len) =>
      (if (k == 0) "image" else if (k == 1) "audio" else "video", w, h, len)
    }

  /** A REAL codec on the same seam: javax.imageio (JPEG/PNG/GIF/BMP from
    * the stock JDK — no native libs). Not used by any declared query
    * (oracles stay analytic over FakeCodec's closed form); MultimodalSpec
    * drives real JPEG bytes through it to prove the seam holds for an
    * actual decoder, not just the fake. payload_len is the full encoded
    * size — a real pipeline's "bytes decoded" accounting.
    */
  val imageIoDecoder: MetaDecoder = bytes => {
    if (bytes == null) None
    else try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else Some(("image", img.getWidth, img.getHeight, bytes.length))
    } catch {
      // NonFatal, not just IOException: the JDK plugins throw unchecked
      // exceptions on valid-magic-corrupt-internals inputs
      // (IllegalArgumentException, CMMException, index errors), and the
      // seam contract is corrupt blob ⇒ null row, never a task crash.
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Decode: bytes → typed metadata struct. Null-safe (bad magic → null
    * fields). The only place that reads the header.
    */
  def withMeta(mediaDf: DataFrame, decoder: MetaDecoder = fakeDecoder): DataFrame = {
    val metaUdf = udf { (bytes: Array[Byte]) => decoder(bytes) }
    mediaDf.withColumn("meta", metaUdf(col("bytes")))
      .select(col("*"), col("meta._1").as("kind"), col("meta._2").as("width"),
        col("meta._3").as("height"), col("meta._4").as("payload_len"))
      .drop("meta")
  }

  /** Feature extraction: mean payload byte + a rolling checksum, computed
    * FROM THE BYTES map-side. The real-codec analogue is embedding/
    * histogram extraction.
    */
  def withFeatures(mediaDf: DataFrame): DataFrame = {
    val featUdf = udf { (bytes: Array[Byte]) =>
      if (bytes == null || bytes.length < FakeCodec.HeaderLen) None
      else {
        var sum = 0L; var check = 0L
        var i = FakeCodec.HeaderLen
        while (i < bytes.length) {
          val b = bytes(i) & 0xff
          sum += b
          check = (check * 33 + b) % 1000003L
          i += 1
        }
        val n = bytes.length - FakeCodec.HeaderLen
        Some((sum.toDouble / n, check))
      }
    }
    mediaDf.withColumn("f", featUdf(col("bytes")))
      .select(col("*"), col("f._1").as("mean_byte"), col("f._2").as("checksum"))
      .drop("f")
  }

  /** Resize: integer-factor area-average downsample of the payload —
    * the multimodal RESIZE kernel shape (bytes in, smaller bytes out,
    * computed map-side; the real-codec analogue is thumbnail/feature-map
    * downsampling). Full windows only (the sub-factor tail is dropped,
    * like a stride-crop), each output byte the floor-mean of its
    * `factor` inputs. Null-safe: undecodable blobs → null, filtered
    * downstream like F9.
    */
  def resized(mediaDf: DataFrame, factor: Int = 4): DataFrame = {
    val resizeUdf = udf { (bytes: Array[Byte]) =>
      if (bytes == null || bytes.length < FakeCodec.HeaderLen) None
      else {
        val payload = bytes.length - FakeCodec.HeaderLen
        val outLen = payload / factor
        val out = new Array[Byte](outLen)
        var j = 0
        while (j < outLen) {
          var s = 0; var i = 0
          while (i < factor) {
            s += bytes(FakeCodec.HeaderLen + j * factor + i) & 0xff; i += 1
          }
          out(j) = (s / factor).toByte
          j += 1
        }
        Some(out)
      }
    }
    mediaDf.withColumn("resized", resizeUdf(col("bytes")))
  }

  /** Frame sampling for "video" blobs: payload sliced into fixed 16-byte
    * frames, every `stride`-th frame kept, per-frame byte sum emitted.
    * The mapPartitions shape (one iterator pass, constant memory per
    * blob) is the batch contract a real codec kernel needs.
    */
  def frameSamples(mediaDf: DataFrame, frameSize: Int = 16, stride: Int = 4): DataFrame = {
    val spark = mediaDf.sparkSession
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("frame_idx", IntegerType),
      StructField("frame_sum", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    mediaDf.select(col("media_id"), col("bytes")).mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val payload = bytes.length - FakeCodec.HeaderLen
        val nFrames = payload / frameSize
        (0 until nFrames by stride).iterator.map { f =>
          var s = 0L; var i = 0
          while (i < frameSize) {
            s += bytes(FakeCodec.HeaderLen + f * frameSize + i) & 0xff; i += 1
          }
          org.apache.spark.sql.Row(id, f, s)
        }
      }
    }(enc)
  }
}
