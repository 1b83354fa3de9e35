package graft
package gates

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.multimodal.Multimodal

import Shared.fnvSql

/** Multimodal gates (`m`): payload statistics and the deterministic
  * image/audio decode, resize and feature paths. */
object MultimodalGates extends Catalog {
  def gates: Seq[Gate] = Seq(
    // --- multimodal plumbing (training-data ops) ---
    // frame-sampling plumbing pinned end-to-end: 64-byte frames, every
    // 2nd kept, per-source frame count / byte mass / per-frame FNV sum
    // (the oracle re-slices the ASCII payload in SQL)
    Gate("m5_frame_checksums", (s, d) => {
      val docs = Tables.documents(s, d)
      Multimodal.sampleFrames(Multimodal.withBinaryPayload(docs))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), length(col("frame")).as("fb"),
          graft.functions.HashExpressions.fnv1a32(col("frame").cast("string"))
            .as("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_frames"), sum("fb").as("bytes_kept"),
          sum("h").as("fnv_sum"))
        .orderBy("source")
    },
      s"""WITH fr AS (SELECT doc_id, source, unnest(
             list_transform(
               list_filter(range(0, CAST(ceil(len(text) / 64.0) AS INT)),
                 i -> i % 2 = 0),
               i -> substr(text, CAST(i AS INT) * 64 + 1, 64))) AS frame
           FROM documents WHERE len(text) > 0),
         sc AS (SELECT source, len(frame) AS fb,
           ${fnvSql("frame", 2166136261L)} AS h FROM fr)
         SELECT source, count(*) AS n_frames,
           CAST(sum(fb) AS BIGINT) AS bytes_kept,
           CAST(sum(h) AS BIGINT) AS fnv_sum
         FROM sc GROUP BY 1 ORDER BY source"""),
    Gate("m1_payload_stats", (s, d) => Multimodal.payloadStats(Tables.documents(s, d)),
      """SELECT source, count(*) AS n_docs,
         CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
         round(avg(octet_length(encode(text))),4) AS avg_bytes
         FROM documents GROUP BY 1 ORDER BY source"""),
    Gate("m2_multimodal_features", (s, d) =>
      Multimodal.extractFeatures(Multimodal.withBinaryPayload(Tables.documents(s, d)))
        .orderBy("doc_id").limit(100),
      // the decode STUB is deterministic byte math and the corpus is pure
      // ASCII (bytes == character codes), so even the stubbed multimodal
      // features pin to the oracle
      """WITH chars AS (SELECT doc_id,
           list_transform(list_filter(string_split_regex(text, ''), c -> len(c) > 0),
             c -> ascii(c)::BIGINT) AS bs
           FROM documents)
         SELECT doc_id, CAST(len(bs) AS INT) AS n_bytes,
           CAST(len(bs) // 100 + 1 AS INT) AS n_frames,
           CASE WHEN len(bs) > 0 THEN list_avg(bs) ELSE 0.0 END AS mean_byte,
           CASE WHEN len(bs) > 0 THEN CAST(bs[1] AS INT) ELSE -1 END AS first_byte
         FROM chars ORDER BY doc_id LIMIT 100"""),
    // real codec round-trip: PNG-encode deterministic pixels executor-side,
    // ImageIO-decode them back; the oracle recomputes the expected decode
    // output from the same integer pixel formula — no codec needed there
    Gate("m3_real_decode", (s, d) =>
      Multimodal.decodeImageFeatures(Multimodal.withImagePayload(
          Tables.documents(s, d).filter(col("doc_id") < 100)))
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_px"), 6).as("mean_px"))
        .orderBy("doc_id"),
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
         px AS (SELECT doc_id, ((doc_id*31 + x.range*7 + y.range*13) % 256) AS p
           FROM ids, range(0,16) x, range(0,16) y
           WHERE x.range < doc_id % 16 + 1 AND y.range < (doc_id // 16) % 16 + 1)
         SELECT doc_id, CAST(doc_id % 16 + 1 AS INT) AS width,
           CAST((doc_id // 16) % 16 + 1 AS INT) AS height,
           round(avg(p), 6) AS mean_px
         FROM px GROUP BY doc_id ORDER BY doc_id"""),
    // real audio round trip: RIFF/WAVE PCM16 encode executor-side, then
    // a real container parse + signal features; the oracle recomputes
    // RMS / zero crossings / peak from the closed-form samples directly
    Gate("m6_audio_features", (s, d) =>
      Multimodal.decodeWavFeatures(Multimodal.withWavPayload(
          Tables.documents(s, d).filter(col("doc_id") < 100)))
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          round(col("rms"), 6).as("rms"),
          col("zero_crossings"), col("peak"))
        .orderBy("doc_id"),
      """WITH d AS (SELECT doc_id, 200 + doc_id % 57 AS n
           FROM documents WHERE doc_id < 100),
         s AS (SELECT doc_id, n, unnest(range(0, CAST(n AS INT))) AS i FROM d),
         v AS (SELECT doc_id, n, i,
           (doc_id * 131 + i * 73) % 4001 - 2000 AS x FROM s),
         w AS (SELECT doc_id, n, x,
           lag(x) OVER (PARTITION BY doc_id ORDER BY i) AS px FROM v)
         SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
           CAST(max(n) AS BIGINT) AS n_samples,
           round(sqrt(avg(CAST(x AS DOUBLE) * x)), 6) AS rms,
           CAST(sum(CASE WHEN px IS NOT NULL AND px * x < 0
             THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
           CAST(max(abs(x)) AS INT) AS peak
         FROM w GROUP BY doc_id ORDER BY doc_id"""),
    // real resize round-trip: PNG decode → nearest-neighbor resample →
    // PNG re-encode executor-side, then decode the RESIZED payload; the
    // oracle recomputes dims and mean pixel from the same closed-form
    // sampling (dst (x,y) reads src (x*w/dw, y*h/dh)) — no codec needed
    Gate("m4_real_resize", (s, d) =>
      Multimodal.decodeImageFeatures(Multimodal.resizeImagePayloads(
          Multimodal.withImagePayload(
            Tables.documents(s, d).filter(col("doc_id") < 100)), factor = 2))
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_px"), 6).as("mean_px"))
        .orderBy("doc_id"),
      """WITH dims AS (SELECT doc_id, doc_id % 16 + 1 AS w,
             (doc_id // 16) % 16 + 1 AS h,
             greatest(1, (doc_id % 16 + 1) // 2) AS dw,
             greatest(1, ((doc_id // 16) % 16 + 1) // 2) AS dh
           FROM documents WHERE doc_id < 100),
         px AS (SELECT doc_id, dw, dh,
             ((doc_id*31 + ((x.range * w) // dw)*7
                         + ((y.range * h) // dh)*13) % 256) AS p
           FROM dims, range(0,16) x, range(0,16) y
           WHERE x.range < dw AND y.range < dh)
         SELECT doc_id, CAST(dw AS INT) AS width, CAST(dh AS INT) AS height,
           round(avg(p), 6) AS mean_px
         FROM px GROUP BY doc_id, dw, dh ORDER BY doc_id""")
  )
}
