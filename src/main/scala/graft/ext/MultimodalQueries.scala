package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables

object MultimodalQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: multimodal binary plumbing (stubbed decode) ----
    Gated("q28_multimodal", (s, dir) =>
      Multimodal.featurize(
        Multimodal.toMedia(Tables.documents(s, dir), "doc_id", "text"))
        .toDF().orderBy(col("doc_id")),
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                md5(text) AS content_md5,
                octet_length(encode(text)) % 640 AS width,
                (octet_length(encode(text)) * 7) % 480 AS height,
                3 AS channels
         FROM documents ORDER BY doc_id"""),

    // ---- ext: multimodal frame sampling (geometry gated; md5 stub
    // unit-tested — DuckDB has no byte-window md5) ----
    Gated("q68_frame_sample", (s, dir) =>
      Multimodal.frameSample(
          Multimodal.toMedia(Tables.documents(s, dir), "doc_id", "text"))
        .toDF().select(col("doc_id"), col("frame_idx"), col("byte_offset"),
          col("frame_bytes"))
        .orderBy(col("doc_id"), col("frame_idx")),
      // frame-sampling geometry: evenly-spaced byte windows, fan-out
      // bounded by maxFrames=4, window size 32
      """WITH m AS (
           SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
         f AS (
           SELECT doc_id, n, greatest(1, least(4, n // 32)) AS frames FROM m),
         e AS (
           SELECT doc_id, n, frames, unnest(range(0, frames)) AS k FROM f)
         SELECT doc_id, k AS frame_idx,
                (n * k) // frames AS byte_offset,
                CAST(least(n, (n * k) // frames + 32) - (n * k) // frames AS BIGINT)
                  AS frame_bytes
         FROM e ORDER BY doc_id, frame_idx"""),

    // ---- ext: REAL audio decode (JDK javax.sound WAV/PCM) — geometry
    // gated vs the byte-exact oracle; signal stats (sum_sq/peak)
    // unit-pinned (the q68 discipline: DuckDB can't walk raw bytes) ----
    Gated("q337_audio_decode", (s, dir) =>
      Multimodal.featurizeAudio(
        Multimodal.toWavMedia(Tables.documents(s, dir), "doc_id", "text"))
        .toDF()
        .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("decoded"), col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("bits").cast("long").as("bits"),
          col("n_frames"), col("duration_ms"))
        .orderBy(col("doc_id")),
      // audio geometry: u8 mono 8kHz PCM over the UTF-8 bytes, canonical
      // 44-byte header — every field an integer function of octet_length
      """SELECT doc_id,
                CAST(octet_length(encode(text)) + 44 AS BIGINT) AS n_bytes,
                true AS decoded,
                CAST(8000 AS BIGINT) AS sample_rate,
                CAST(1 AS BIGINT) AS channels,
                CAST(8 AS BIGINT) AS bits,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_frames,
                CAST(octet_length(encode(text)) * 1000 // 8000 AS BIGINT)
                  AS duration_ms
         FROM documents ORDER BY doc_id"""),
  )
}
