package graft.multimodal

import graft.SparkTestBase

/** The decode step is a stub (no codecs in this environment); these
  * tests pin the REAL part — schemas, batch shapes, partition-wise
  * execution, stage composition — so swapping in a codec later can't
  * silently break the plumbing. */
class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (0L, "hello world, a payload long enough to span several frames " + "x" * 200),
    (1L, "short"),
    (2L, "")).toDF("doc_id", "text")

  test("frame sampling explodes to every-Nth fixed-size chunks") {
    val frames = Multimodal.sampleFrames(Multimodal.withBinaryPayload(docs),
      frameBytes = 64, everyN = 2)
    val byDoc = frames.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n0 = docs.filter($"doc_id" === 0L).head().getString(1).length
    val totalFrames0 = (n0 + 63) / 64
    assert(byDoc(0L) == (totalFrames0 + 1) / 2) // indices 0,2,4,...
    assert(byDoc(1L) == 1L) // one short frame, index 0 kept
    assert(!byDoc.contains(2L)) // empty payload -> no frames
    // kept frames are the even-indexed ones, bytes preserved verbatim
    val idx = frames.filter($"doc_id" === 0L).collect().map(_.getInt(1)).sorted
    assert(idx.forall(_ % 2 == 0))
  }

  test("stages compose: resize then extract features") {
    val ids = Seq(0L, 7L, 15L).toDF("doc_id")
    val out = Multimodal.extractFeatures(
      Multimodal.resizeImagePayloads(Multimodal.withImagePayload(ids), factor = 2))
    assert(out.columns.toSeq ==
      Seq("doc_id", "n_bytes", "n_frames", "mean_byte", "first_byte"))
    assert(out.count() == 3)
  }

  test("real PNG round-trip: decode recovers generated dims and pixels") {
    val ids = Seq(0L, 7L, 15L, 16L, 164L, 255L).toDF("doc_id")
    val decoded = Multimodal.decodeImageFeatures(Multimodal.withImagePayload(ids))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    for (id <- Seq(0L, 7L, 15L, 16L, 164L, 255L)) {
      val (w, h) = Multimodal.imageDims(id)
      val expMean = (for (y <- 0 until h; x <- 0 until w)
        yield Multimodal.pixel(id, x, y)).sum.toDouble / (w * h)
      val (dw, dh, mean) = decoded(id)
      assert(dw == w && dh == h, s"dims for doc $id")
      assert(math.abs(mean - expMean) < 1e-9, s"mean pixel for doc $id")
    }
  }

  test("real resize: NN-resampled PNG round-trips to the closed-form pixels") {
    val ids = Seq(0L, 7L, 15L, 16L, 164L, 255L).toDF("doc_id")
    val resized = Multimodal.resizeImagePayloads(
      Multimodal.withImagePayload(ids), factor = 2)
    // resized payloads are themselves genuine PNGs with refreshed metadata
    val row42 = resized.filter($"doc_id" === 15L).head()
    assert(row42.getAs[Array[Byte]]("payload").take(8).map(_ & 0xFF).toSeq ==
      Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A))
    assert(row42.getAs[org.apache.spark.sql.Row]("meta")
      .getAs[String]("codec") == "png/gray8/resized:2")
    val decoded = Multimodal.decodeImageFeatures(resized)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    for (id <- Seq(0L, 7L, 15L, 16L, 164L, 255L)) {
      val (w, h) = Multimodal.imageDims(id)
      val (dw, dh) = (math.max(1, w / 2), math.max(1, h / 2))
      val expMean = (for (y <- 0 until dh; x <- 0 until dw)
        yield Multimodal.pixel(id, x * w / dw, y * h / dh))
        .sum.toDouble / (dw * dh)
      val (gw, gh, mean) = decoded(id)
      assert(gw == dw && gh == dh, s"resized dims for doc $id")
      assert(math.abs(mean - expMean) < 1e-9, s"resized mean pixel for doc $id")
    }
  }

  test("real WAV round-trip: container parse recovers the closed-form signal") {
    val ids = Seq(0L, 7L, 56L, 100L, 4099L).toDF("doc_id")
    val decoded = Multimodal.decodeWavFeatures(Multimodal.withWavPayload(ids))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getInt(5)))
      .toMap
    for (id <- Seq(0L, 7L, 56L, 100L, 4099L)) {
      val n = Multimodal.audioLen(id)
      val xs = (0 until n).map(Multimodal.sampleAt(id, _))
      val expRms = math.sqrt(xs.map(v => v.toDouble * v).sum / n)
      val expZc = xs.sliding(2).count(p => p.head.toLong * p(1) < 0)
      val (rate, ns, rms, zc, peak) = decoded(id)
      assert(rate == 8000 && ns == n.toLong, s"header for doc $id")
      assert(math.abs(rms - expRms) < 1e-9, s"rms for doc $id")
      assert(zc == expZc.toLong, s"zero crossings for doc $id")
      assert(peak == xs.map(math.abs).max, s"peak for doc $id")
    }
  }

  test("WAV payloads are genuine RIFF containers and bad layouts are refused") {
    val payload = Multimodal.withWavPayload(Seq(3L).toDF("doc_id"))
      .select("payload").collect().head.getAs[Array[Byte]](0)
    assert(new String(payload.take(4), "US-ASCII") == "RIFF")
    assert(new String(payload.slice(8, 12), "US-ASCII") == "WAVE")
    assert(payload.length == 44 + Multimodal.audioLen(3L) * 2)
    // a stereo fmt chunk must be refused, not silently mis-parsed
    val corrupt = payload.clone()
    corrupt(22) = 2 // channels LE low byte
    val bad = Seq((3L, corrupt)).toDF("doc_id", "payload")
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeWavFeatures(bad).collect()
    }
    assert(err.getMessage.contains("unsupported WAV layout")
      || Option(err.getCause).exists(_.getMessage.contains("unsupported WAV layout")))
  }

  test("image payloads are genuine PNGs (magic bytes + codec metadata)") {
    val row = Multimodal.withImagePayload(Seq(42L).toDF("doc_id")).head()
    val bytes = row.getAs[Array[Byte]]("payload")
    assert(bytes.take(8).map(_ & 0xFF).toSeq ==
      Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A))
    assert(row.getAs[org.apache.spark.sql.Row]("meta")
      .getAs[String]("codec") == "png/gray8")
  }
}
