package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.adapters.EventsAdapter
import graft.exporters.Exporters
import graft.operators.{AsOfJoin, LabelMatcher, Matchers, SensorOps}
import graft.pipeline.{Dedup, MjpegAvi, Multimodal, Similarity, TextAnalysis}
import graft.prometheus.{PrometheusRemote, XorChunk}
import graft.promql.SimplePromQL
import graft.sources.{CsvImporter, InfluxLineProtocol, SenML}
import QueryHelpers._

/** Multimodal lanes: image decode/resize/dHash, audio energy, frame sampling (binary columns + typed metadata).
  *
  * One of the family registries composed into [[graft.Queries]];
  * oracle/alias conventions are documented there.
  */
private[graft] object MultimodalQueries {

  /** The windowed audio-energy oracle of q293, q371 and q380: each
    * printable character of a document is one sample of amplitude
    * ascii − 79; per 16-sample window, the sample count, the exact
    * Σs² energy and the silence gate Σs² < 100 per sample. The lossless
    * WAV and FLAC roundtrips must reproduce q293's stub-lane answer.
    */
  private val audioEnergyOracleSql =
    """WITH sx AS (SELECT doc_id AS media_id,
      |    regexp_replace(text, '[^ -~]', '', 'g') AS s
      |  FROM documents
      |  WHERE length(regexp_replace(text, '[^ -~]', '', 'g')) > 0),
      |p AS (SELECT media_id, s, UNNEST(range(0, length(s))) AS pos
      |  FROM sx),
      |a AS (SELECT media_id, pos // 16 AS win,
      |    ascii(substr(s, CAST(pos + 1 AS INTEGER), 1)) - 79 AS amp
      |  FROM p)
      |SELECT media_id, win, COUNT(*) AS n_samples,
      |  CAST(SUM(amp * amp) AS BIGINT) AS energy,
      |  CAST(SUM(amp * amp) < COUNT(*) * 100 AS INTEGER) AS silence
      |FROM a GROUP BY 1, 2 ORDER BY media_id, win"""

  /** The frame-sampling oracles' container arithmetic (q379, q383,
    * q384): a document's animation has (n_chars % `frames`) + 1
    * frames, and sampling every 2nd keeps the even indexes — their
    * count and index sum per document.
    */
  private def frameSampleOracleSql(frames: Int): String =
    s"""SELECT doc_id AS media_id,
       |  ((n_chars % $frames) + 2) // 2 AS frames_sampled,
       |  (((n_chars % $frames) // 2) * (((n_chars % $frames) // 2) + 1))
       |    AS idx_sum
       |FROM documents ORDER BY media_id"""

  val registry: Seq[Q] = Seq(

    // Multimodal plumbing: documents' bytes as opaque media, batch decode
    // via mapPartitions (decode step stubbed — see Multimodal.FakeDecoder).
    q(
      "q31_multimodal",
      """SELECT doc_id AS media_id, length(text) AS n_bytes,
        |  length(text) // 1000 + 1 AS n_frames
        |FROM documents ORDER BY media_id"""
    ) { (s, d) =>
      import s.implicits._
      val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, d))
      Multimodal.decode(media)
        .select(col("media_id"), col("n_bytes"), col("n_frames"))
        .orderBy("media_id")
    },

    // Multimodal frame sampling: every 3rd frame of each media payload
    // (frame count follows the stub decoder's bytes/1000+1 heuristic, so
    // the oracle derives the same counts from octet lengths).
    q(
      "q47_frame_sample",
      """SELECT doc_id AS media_id,
        |  (octet_length(encode(text)) // 1000) // 3 + 1 AS n_sampled,
        |  ((octet_length(encode(text)) // 1000) // 3) * 3 AS last_frame
        |FROM documents ORDER BY media_id"""
    ) { (s, d) =>
      import graft.pipeline.Multimodal
      Multimodal.frameSample(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, d)), every = 3)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_sampled"),
          max(col("frame_index")).cast("long").as("last_frame"))
        .orderBy("media_id")
    },

    // Multimodal resize plumbing: the stub resizer's byte-level transform
    // (truncate/zero-pad to w*h octets + metadata update) is replayed in
    // DuckDB with octet arithmetic, so the batch contract, 1:1 row
    // mapping, payload BYTES and metadata all hash-match — the same
    // full-content check q31/q47 pin for decode/frame-sample. Documents
    // are pure ASCII (verified: octet_length == length for every row),
    // so VARCHAR truncation == byte truncation on the oracle side.
    // Spark's base64 is the MIME encoder (76-char CRLF lines); the
    // regexp strips the line breaks to match DuckDB's to_base64.
    q(
      "q69_media_resize",
      """SELECT media_id, octet_length(resized) AS n_bytes,
        |  24 AS meta_width, 10 AS meta_height,
        |  to_base64(resized) AS payload_b64
        |FROM (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN length(text) >= 240
        |      THEN encode(substring(text, 1, 240))
        |      ELSE encode(text)
        |        || repeat('\x00'::BLOB, 240 - length(text)) END AS resized
        |  FROM documents)
        |ORDER BY media_id"""
    ) { (s, d) =>
      import graft.pipeline.Multimodal
      Multimodal.resize(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, d)),
        w = 24, h = 10)
        .toDF()
        .select(col("media_id"),
          length(col("media")).cast("long").as("n_bytes"),
          col("meta_width"), col("meta_height"),
          regexp_replace(base64(col("media")), "[\\r\\n]", "")
            .as("payload_b64"))
        .orderBy("media_id")
    },

    // Perceptual-hash (dHash) near-dup pairs over the deterministic
    // fake media lane (the REAL javax.imageio lane is pixel-pinned in
    // PipelineSpec): 63-bit difference hash of the 9×8 fake gray grid
    // (printable-ASCII code points — replayed verbatim by the oracle),
    // 4×16-bit band bucketing (full recall ≤ radius 3, stated trade
    // above), exact bit_count(xor) verification. Pure integer end to
    // end; the only joins key on (band, 16-bit value) — never
    // all-pairs.
    q("q276_dhash_neardup", dhashOracleSql) { (s, d) =>
      import graft.pipeline.Multimodal
      val hashes = Tables.documents(s, d)
        .select(col("doc_id").as("media_id"),
          Multimodal.fakeDHash(col("text")).as("dhash"))
      Multimodal.dhashNearDupPairs(hashes, radius = 6)
        .orderBy("id_a", "id_b")
    },

    // Windowed fake-PCM audio energy + integer silence gate (the
    // VAD/silence-trim front): scan-stage position explode, one
    // (media, window) map-side-combined aggregate, exact Σs² energy.
    // Decode is the documented stub lane (JDK ships no audio codecs).
    q("q293_audio_energy", audioEnergyOracleSql) { (s, d) =>
      Multimodal.fakePcmEnergy(
        Tables.spread(s, Tables.documents(s, d)), "doc_id", "text",
        windowSamples = 16, silencePerSample = 100)
    },

    // REAL WAV roundtrip energy: text → deterministic 16-bit PCM → a
    // true RIFF/WAVE payload (javax.sound.sampled, on the executors) →
    // REAL decode (WavPcm) → windowed Σs² energy + silence gate. The
    // oracle derives the identical energies straight from the ascii()
    // amplitude formula, so the gate holds iff WAV encode→decode is
    // sample-exact — the end-to-end pin on the real audio lane. Decode
    // and windowing fold sequentially inside the partition sweep (no
    // explode, no shuffle); exact integer arithmetic end to end.
    q("q371_wav_energy", audioEnergyOracleSql) { (s, d) =>
      Multimodal.wavEnergy(
        Multimodal.textToWav(
          Tables.spread(s, Tables.documents(s, d)), "doc_id", "text"),
        windowSamples = 16, silencePerSample = 100L)
        .orderBy("media_id", "win")
    },

    // REAL VIDEO roundtrip (r14): per document, (n_chars % 7) + 1
    // solid-color JPEG frames muxed into a standard MJPEG AVI on the
    // executors, then frame-sampled every 2nd frame through the REAL
    // lane (AVI demux + the JDK's JPEG decode + PNG re-encode). JPEG
    // bytes are lossy/codec-specific, so the exact oracle surface is
    // the CONTAINER arithmetic the lane must reproduce: sampled-frame
    // count and index sum per document — rows exist only if every
    // demuxed frame actually DECODES (the sampler fails loudly).
    q("q379_mjpeg_frame_sample", frameSampleOracleSql(7)) { (s, d) =>
      import s.implicits._
      val media = Tables.spread(s, Tables.documents(s, d))
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .map { case (id, nChars) =>
          val n = (nChars % 7).toInt + 1
          val frames = (0 until n).map { f =>
            val img = new java.awt.image.BufferedImage(
              16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = img.createGraphics()
            g.setColor(new java.awt.Color((f * 40) % 256, 32, 64))
            g.fillRect(0, 0, 16, 16); g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpg", bos)
            bos.toByteArray
          }
          Multimodal.MediaRow(id, MjpegAvi.encode(frames, 16, 16),
            "video/x-msvideo", 0, 0)
        }
      Multimodal.frameSample(media, every = 2,
          Multimodal.MjpegAviFrameSampler)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("frames_sampled"),
          sum(col("frame_index")).as("idx_sum"))
        .orderBy("media_id")
    },

    // REAL FLAC roundtrip (r15): q371's pipeline with the WAV container
    // swapped for the real FLAC codec (FlacPcm: fixed/LPC prediction +
    // Rice residuals, CRC-8/16 + stream-MD5 guarded) — text →
    // deterministic 16-bit PCM → FLAC encode on executors → REAL FLAC
    // decode → windowed Σs² energy. The oracle replays the amplitude
    // formula, so the gate holds iff FLAC encode→decode is
    // sample-exact; identical oracle SQL to q371 because FLAC is
    // LOSSLESS. Same scan-stage shape: decode + windowing fold
    // sequentially inside the partition sweep, no explode, no shuffle.
    q("q380_flac_energy", audioEnergyOracleSql) { (s, d) =>
      Multimodal.flacEnergy(
        Multimodal.textToFlac(
          Tables.spread(s, Tables.documents(s, d)), "doc_id", "text"),
        windowSamples = 16, silencePerSample = 100L)
        .orderBy("media_id", "win")
    },

    // Cross-codec audio dedup (r15): the SAME sound rendered through
    // two REAL containers/codecs — 16-bit PCM WAV and compressed FLAC
    // — decodes through each lane's SPI decoder to the SAME
    // byte-layout-independent content checksum, so copies of one
    // recording dedup together regardless of how they were encoded
    // (the audio analog of NFC text dedup). codec_match is computed,
    // not assumed: the gate holds iff BOTH decode lanes are
    // sample-exact AND the feature fold is container-independent.
    // One broadcast-joinable features frame per lane; decode on
    // executors, join keyed on media_id.
    q(
      "q381_cross_codec_audio_dedup",
      """SELECT doc_id AS media_id,
        |  length(regexp_replace(text, '[^ -~]', '', 'g')) AS n_frames,
        |  1 AS codec_match
        |FROM documents
        |WHERE length(regexp_replace(text, '[^ -~]', '', 'g')) > 0
        |ORDER BY media_id"""
    ) { (s, d) =>
      val docs = Tables.spread(s, Tables.documents(s, d))
      val wav = Multimodal.decode(
        Multimodal.textToWav(docs, "doc_id", "text"),
        Multimodal.WavAudioDecoder)
        .select(col("media_id"), col("n_frames"),
          col("checksum").as("wav_checksum"))
      val flac = Multimodal.decode(
        Multimodal.textToFlac(docs, "doc_id", "text"),
        Multimodal.FlacAudioDecoder)
        .select(col("media_id"), col("checksum").as("flac_checksum"))
      wav.join(flac, "media_id")
        .select(col("media_id"), col("n_frames").cast("long").as("n_frames"),
          (col("wav_checksum") === col("flac_checksum"))
            .cast("int").as("codec_match"))
        .orderBy("media_id")
    },

    // REAL ANIMATED-PNG roundtrip (r15): per document, (n_chars % 5)+1
    // solid-color frames assembled into an APNG (standard acTL/fcTL/
    // fdAT chunk layout, CRC-sealed) on the executors, then
    // frame-sampled every 2nd frame through the REAL lane (chunk walk,
    // per-frame PNG reconstruction, dispose/blend compositing, the
    // JDK's PNG codec, PNG re-encode). Like q379 the exact oracle
    // surface is the container arithmetic the lane must reproduce —
    // and rows exist only if every reconstructed frame actually
    // DECODES and every chunk CRC verifies (the sampler fails loudly).
    q("q383_apng_frame_sample", frameSampleOracleSql(5)) { (s, d) =>
      import s.implicits._
      val media = Tables.spread(s, Tables.documents(s, d))
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .map { case (id, nChars) =>
          val n = (nChars % 5).toInt + 1
          val frames = (0 until n).map { f =>
            val img = new java.awt.image.BufferedImage(
              12, 12, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = img.createGraphics()
            g.setColor(new java.awt.Color(16, (f * 40) % 256, 96))
            g.fillRect(0, 0, 12, 12); g.dispose()
            graft.pipeline.Apng.Frame(img)
          }
          Multimodal.MediaRow(id, graft.pipeline.Apng.encode(frames),
            "image/apng", 0, 0)
        }
      Multimodal.frameSample(media, every = 2,
          Multimodal.ApngFrameSampler)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("frames_sampled"),
          sum(col("frame_index")).as("idx_sum"))
        .orderBy("media_id")
    },

    // Heterogeneous-container frame sampling with MAGIC-BYTE
    // auto-dispatch (r15): each document's animation arrives in a
    // DIFFERENT real container by doc_id % 3 — animated GIF (the JDK's
    // GIF sequence writer), APNG (Apng.encode), or MJPEG-in-AVI
    // (MjpegAvi.encode) — with NO content-type labels, and
    // AutoFrameSampler routes each payload by its container bytes.
    // The oracle is the SAME container arithmetic for all three (the
    // q379/q383 discipline), so the gate holds iff dispatch picks the
    // right demuxer for every payload and all three lanes decode —
    // a GIF routed to the APNG walker fails loudly, not approximately.
    q("q384_mixed_container_frames", frameSampleOracleSql(5)) { (s, d) =>
      import s.implicits._
      val media = Tables.spread(s, Tables.documents(s, d))
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .map { case (id, nChars) =>
          val n = (nChars % 5).toInt + 1
          def rgbFrame(f: Int): java.awt.image.BufferedImage = {
            val img = new java.awt.image.BufferedImage(
              12, 12, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = img.createGraphics()
            g.setColor(new java.awt.Color(32, (f * 40) % 256, 80))
            g.fillRect(0, 0, 12, 12); g.dispose()
            img
          }
          val payload: Array[Byte] = (id % 3) match {
            case 0 => // animated GIF via the JDK's sequence writer
              val bos = new java.io.ByteArrayOutputStream()
              val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
              val w = javax.imageio.ImageIO
                .getImageWritersByFormatName("gif").next()
              w.setOutput(ios)
              w.prepareWriteSequence(null)
              (0 until n).foreach(f => w.writeToSequence(
                new javax.imageio.IIOImage(rgbFrame(f), null, null), null))
              w.endWriteSequence(); w.dispose(); ios.close()
              bos.toByteArray
            case 1 =>
              graft.pipeline.Apng.encode(
                (0 until n).map(f => graft.pipeline.Apng.Frame(rgbFrame(f))))
            case _ =>
              val frames = (0 until n).map { f =>
                val bos = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(rgbFrame(f), "jpg", bos)
                bos.toByteArray
              }
              MjpegAvi.encode(frames, 12, 12)
          }
          Multimodal.MediaRow(id, payload, "application/octet-stream", 0, 0)
        }
      Multimodal.frameSample(media, every = 2,
          Multimodal.AutoFrameSampler)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("frames_sampled"),
          sum(col("frame_index")).as("idx_sum"))
        .orderBy("media_id")
    },

    // Mixed-codec corpus dedup with MAGIC-BYTE auto-dispatch (r15):
    // a heterogeneous media corpus (one WAV copy + one FLAC copy of
    // every document's sound, under distinct media ids, NO
    // content-type labels) decodes through AutoAudioDecoder — the
    // container bytes route each payload to its codec — and dedups by
    // the shared content checksum. Every group must be exactly the
    // {WAV, FLAC} pair of one document: the oracle predicts (doc_id,
    // 2) rows, which hold iff dispatch picks the right codec per
    // payload AND both lanes decode sample-exactly. One decode scan,
    // one hash-shuffle on the 64-bit checksum — the dedup shape at
    // any scale.
    q(
      "q382_mixed_codec_dedup",
      """WITH p AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '', 'g') AS t
        |  FROM documents
        |  WHERE length(regexp_replace(text, '[^ -~]', '', 'g')) > 0)
        |SELECT min(doc_id) AS media_group, 2 * count(*) AS n_copies
        |FROM p GROUP BY t ORDER BY media_group"""
    ) { (s, d) =>
      import s.implicits._
      val docs = Tables.spread(s, Tables.documents(s, d))
      val wav = Multimodal.textToWav(docs, "doc_id", "text")
        .map(r => r.copy(media_id = r.media_id * 2))
      val flac = Multimodal.textToFlac(docs, "doc_id", "text")
        .map(r => r.copy(media_id = r.media_id * 2 + 1))
      Multimodal.decode(wav.unionAll(flac), Multimodal.AutoAudioDecoder)
        .groupBy(col("checksum"))
        .agg(min(col("media_id")).as("min_id"),
          count(lit(1)).as("n_copies"))
        // a group is the {WAV, FLAC} pairs of every doc sharing one
        // printable text (the corpus carries a few exact-dup texts at
        // sf0.1); min media id = 2·(min doc id) → /2 recovers it
        .select((col("min_id") / 2).cast("long").as("media_group"),
          col("n_copies"))
        .orderBy("media_group")
    }
  )
}
