package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * with decode / feature-extraction as partition-wise batch transforms.
  *
  * Two codec tiers:
  *  - REAL path ([[withImagePayload]] / [[decodeImageFeatures]] /
  *    [[resizeImagePayloads]]): actual PNG encode + decode + resize +
  *    re-encode through `javax.imageio` (in the JDK — PNG/BMP/JPEG/GIF
  *    readers are always registered), running executor-side in
  *    partition batch loops.
  *  - STUB path ([[stubDecode]]): clearly-marked
  *    deterministic byte math standing in for codecs absent from the
  *    runtime (video/audio); the schema, batching, and partition-wise
  *    execution around it are the real production plumbing.
  */
object Multimodal {

  /** Attach a fake binary payload column (UTF-8 bytes of the text) plus
    * typed metadata — stands in for e.g. image bytes + (width, height). */
  def withBinaryPayload(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        length(col("text")).as("n_bytes"),
        lit("utf8-fake").as("codec")).as("meta"))

  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("mean_byte", DoubleType),
    StructField("first_byte", IntegerType)))

  /** STUB decoder: deterministic per-byte stats standing in for a real
    * image/audio decode. Replace the body with the codec call; the
    * partition-wise iterator shape (one JVM-side batch loop per
    * partition, no per-row driver round-trips) is the production shape. */
  def stubDecode(payload: Array[Byte]): (Int, Double, Int) = {
    // ??? <- real codec goes here; deterministic fake below.
    val frames = payload.length / 100 + 1
    val mean = if (payload.isEmpty) 0.0
      else payload.map(b => (b & 0xFF).toDouble).sum / payload.length
    val first = if (payload.isEmpty) -1 else payload(0) & 0xFF
    (frames, mean, first)
  }

  /** Partition-wise feature extraction over the binary column
    * (`mapPartitions` — the Scala analog of `mapInPandas` batching). */
  def extractFeatures(withPayload: DataFrame): DataFrame = {
    val spark = withPayload.sparkSession
    val rdd = withPayload.select("doc_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val (frames, mean, first) = stubDecode(payload)
        Row(id, payload.length, frames, mean, first)
      }
    }
    spark.createDataFrame(rdd, featureSchema)
  }

  /** Frame-sampling stage: chunk each payload into fixed-size "frames"
    * and keep every `everyN`-th — the video-keyframe-extraction shape.
    * Emits one row per kept frame (explode, executor-side; rows never
    * funnel through the driver), so downstream per-frame feature
    * extraction parallelizes across the cluster regardless of how few
    * source documents there are. */
  def sampleFrames(withPayload: DataFrame, frameBytes: Int = 64,
                   everyN: Int = 2): DataFrame = {
    val spark = withPayload.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("frame", BinaryType)))
    val rdd = withPayload.select("doc_id", "payload").rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        payload.grouped(frameBytes).zipWithIndex.collect {
          case (chunk, i) if i % everyN == 0 => Row(id, i, chunk)
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  // ---- Real image codec path (javax.imageio — in the JDK, no native
  // libs needed). The stub path above remains the documented fallback
  // for formats whose codecs are absent from the runtime.

  /** Deterministic grayscale test image for `doc_id`: dimensions and
    * every pixel derive from pure integer arithmetic, so an oracle can
    * recompute the expected decode output without any codec. */
  private[multimodal] def imageDims(docId: Long): (Int, Int) =
    ((docId % 16 + 1).toInt, (docId / 16 % 16 + 1).toInt)

  private[multimodal] def pixel(docId: Long, x: Int, y: Int): Int =
    ((docId * 31 + x * 7 + y * 13) % 256).toInt

  /** Attach a REAL encoded image payload per document: a grayscale PNG
    * whose dimensions/pixels are a deterministic function of `doc_id`.
    * Encoding runs executor-side in the partition loop (the production
    * shape for "render/transcode a binary column"); PNG is lossless, so
    * the decode stage must recover exactly the generated pixels. */
  def withImagePayload(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = documents.select("doc_id").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val (w, h) = imageDims(id)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { raster.setSample(x, y, 0, pixel(id, x, y)); x += 1 }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        Row(id, out.toByteArray)
      }
    }
    spark.createDataFrame(rdd, schema)
      .withColumn("meta", struct(length(col("payload")).as("n_bytes"),
        lit("png/gray8").as("codec")))
  }

  /** REAL resize: ImageIO-decode the payload, nearest-neighbor resample
    * the raster down by `factor`, and PNG re-encode — decode → scale →
    * encode runs entirely inside one partition loop (the production
    * shape for "transcode a binary column").
    *
    * The resample is an explicit integer sampling — dst `(x, y)` takes
    * src `(x*w/dstW, y*h/dstH)` — rather than `Graphics2D.drawImage`,
    * whose interpolation is rendering-pipeline-defined: explicit
    * sampling keeps the output pixels a closed-form function of the
    * input, so the `m4` gate's SQL oracle recomputes the resized pixel
    * stats exactly, the way `m3` pins decode. Dimensions shrink to
    * `max(1, dim/factor)`; PNG is lossless, so a re-decode must recover
    * exactly the sampled pixels. */
  def resizeImagePayloads(withPayload: DataFrame, factor: Int = 2): DataFrame = {
    require(factor >= 1, s"resize factor must be >= 1, got $factor")
    val spark = withPayload.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = withPayload.select("doc_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        require(img != null, s"no registered codec could decode payload for doc $id")
        val (w, h) = (img.getWidth, img.getHeight)
        val (dw, dh) = (math.max(1, w / factor), math.max(1, h / factor))
        val dst = new java.awt.image.BufferedImage(
          dw, dh, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val srcRaster = img.getRaster
        val dstRaster = dst.getRaster
        var y = 0
        while (y < dh) {
          var x = 0
          while (x < dw) {
            dstRaster.setSample(x, y, 0,
              srcRaster.getSample(x * w / dw, y * h / dh, 0))
            x += 1
          }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", out)
        Row(id, out.toByteArray)
      }
    }
    spark.createDataFrame(rdd, schema)
      .withColumn("meta", struct(length(col("payload")).as("n_bytes"),
        lit(s"png/gray8/resized:$factor").as("codec")))
  }

  val imageFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("mean_px", DoubleType)))

  /** REAL decode: `ImageIO.read` the payload bytes (PNG/BMP/JPEG — any
    * JDK-registered reader) and extract width / height / mean pixel
    * intensity from the decoded raster. Partition-wise batch loop, one
    * reusable decoder per partition iterator — no driver round-trips,
    * no per-row codec registry lookups beyond ImageIO's cache. */
  def decodeImageFeatures(withPayload: DataFrame): DataFrame = {
    val spark = withPayload.sparkSession
    val rdd = withPayload.select("doc_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        require(img != null, s"no registered codec could decode payload for doc $id")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
          y += 1
        }
        Row(id, w, h, sum.toDouble / (w.toLong * h))
      }
    }
    spark.createDataFrame(rdd, imageFeatureSchema)
  }

  // ---- Real audio codec path (RIFF/WAVE, PCM16 little-endian — the
  // container is simple enough to write AND parse in pure JVM code, so
  // unlike video this tier needs no stub: encode and decode are both
  // real, with the same closed-form-sample trick as the PNG path so
  // the oracle recomputes expected features codec-free).

  private[multimodal] def audioLen(docId: Long): Int = (200 + docId % 57).toInt

  private[multimodal] def sampleAt(docId: Long, i: Int): Int =
    ((docId * 131 + i.toLong * 73) % 4001 - 2000).toInt

  /** Attach a REAL RIFF/WAVE payload per document: PCM16 mono 8 kHz,
    * sample values a deterministic function of (doc_id, position).
    * Encoding runs executor-side in the partition loop. */
  def withWavPayload(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = documents.select("doc_id").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val n = audioLen(id)
        val dataBytes = n * 2
        val buf = java.nio.ByteBuffer.allocate(44 + dataBytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
          .put("WAVE".getBytes("US-ASCII"))
        buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
          .putShort(1).putShort(1)             // PCM, mono
          .putInt(8000).putInt(8000 * 2)       // rate, byte rate
          .putShort(2).putShort(16)            // block align, bits
        buf.put("data".getBytes("US-ASCII")).putInt(dataBytes)
        var i = 0
        while (i < n) { buf.putShort(sampleAt(id, i).toShort); i += 1 }
        Row(id, buf.array())
      }
    }
    spark.createDataFrame(rdd, schema)
      .withColumn("meta", struct(length(col("payload")).as("n_bytes"),
        lit("wav/pcm16").as("codec")))
  }

  private val audioFeatureSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sample_rate", IntegerType),
    StructField("n_samples", LongType),
    StructField("rms", DoubleType),
    StructField("zero_crossings", LongType),
    StructField("peak", IntegerType)))

  /** REAL decode: parse the RIFF container (verify magic, walk chunks
    * to `fmt `/`data` — tolerant of extra chunks, intolerant of
    * non-PCM16-mono), read the little-endian samples, and extract the
    * classic signal features: RMS, strict zero crossings
    * (`prev·cur < 0`), and peak amplitude. Partition-wise loop. */
  def decodeWavFeatures(withPayload: DataFrame): DataFrame = {
    val spark = withPayload.sparkSession
    val rdd = withPayload.select("doc_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val buf = java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]](1))
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def tag(): String = {
          val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
        }
        require(tag() == "RIFF", s"doc $id: not a RIFF container")
        buf.getInt()
        require(tag() == "WAVE", s"doc $id: not a WAVE stream")
        var rate = -1
        var done = false
        var nSamples = 0L
        var sumSq = 0.0
        var crossings = 0L
        var peak = 0
        while (!done && buf.remaining() >= 8) {
          val chunk = tag()
          val len = buf.getInt()
          chunk match {
            case "fmt " =>
              val fmt = buf.getShort(); val ch = buf.getShort()
              rate = buf.getInt(); buf.getInt(); buf.getShort()
              val bits = buf.getShort()
              require(fmt == 1 && ch == 1 && bits == 16,
                s"doc $id: unsupported WAV layout fmt=$fmt ch=$ch bits=$bits")
              buf.position(buf.position() + (len - 16))
            case "data" =>
              require(rate > 0, s"doc $id: data chunk before fmt")
              val n = len / 2
              var prev = 0
              var i = 0
              while (i < n) {
                val v = buf.getShort().toInt
                sumSq += v.toDouble * v
                if (v.toLong * prev < 0) crossings += 1
                if (math.abs(v) > peak) peak = math.abs(v)
                prev = v
                i += 1
              }
              nSamples = n
              done = true
            case _ => buf.position(buf.position() + len)
          }
        }
        require(done, s"doc $id: no data chunk")
        Row(id, rate, nSamples,
          if (nSamples == 0) 0.0 else math.sqrt(sumSq / nSamples),
          crossings, peak)
      }
    }
    spark.createDataFrame(rdd, audioFeatureSchema)
  }

  /** SQL-expressible slice of the multimodal metadata (oracle-checkable):
    * byte length + frame count per doc, aggregated by source. */
  def payloadStats(documents: DataFrame): DataFrame =
    documents
      .select(col("source"),
        length(col("text").cast("binary")).as("n_bytes"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bytes").as("total_bytes"),
        round(avg("n_bytes"), 4).as("avg_bytes"))
      .orderBy("source")
}
