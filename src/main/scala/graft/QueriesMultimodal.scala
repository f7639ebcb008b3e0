package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

/** Multimodal-column query catalog (driver brief: image/audio/video as
  * opaque binary + typed metadata; decode stubbed, plumbing real).
  * The media table is derived deterministically from `documents`
  * ([[Multimodal.mediaFromDocuments]]) so the metadata/frame path has a
  * full DuckDB oracle; the decode-stub feature path is gated rows-only
  * (its float32 accumulator is not portably expressible in SQL).
  */
object QueriesMultimodal {
  import Queries.Q

  /** Extended-Hamming [8,4,4] codebook: the 16 codewords have pairwise
    * bit distance ≥ 4, which is what makes the q103 fixture's
    * cross-pair hashes provably un-pairable at maxHd = 2. */
  private[graft] val hamming84: Array[Int] = Array(
    0, 135, 153, 30, 170, 45, 51, 180, 75, 204, 210, 85, 225, 102, 120, 255)

  // ---------------------------------------------------------------- q40
  /** Video pipeline: ingest contract → metadata resize (pure-metadata,
    * no decode) → frame sampling (narrow explode, one row per sampled
    * frame) → hex of the 16-byte frame slice. Exercises the binary
    * column end-to-end with an exact oracle. */
  val q40FrameSample: Q = (s, dir) => {
    import s.implicits._
    val media = Multimodal.mediaFromDocuments(s, dir).filter($"kind" === "video")
    val resized = Multimodal.resizeMeta(media, maxSide = 320)
    Multimodal.sampleFrames(resized, everyMs = 1000L)
      .join(resized.select($"media_id",
        $"meta.width".as("r_width"), $"meta.height".as("r_height")), Seq("media_id"))
      .select($"media_id", $"frame_idx", $"frame_ts_ms",
        hex($"frame_bytes").as("frame_hex"), $"r_width", $"r_height")
      .orderBy($"media_id", $"frame_idx")
  }
  // DuckDB 1.0 cannot substring a BLOB: slice the hex string at 2× the
  // byte offset instead (identical to Spark's hex(substring(bin,…))).
  val q40Sql: String =
    """WITH media AS (
      |  SELECT doc_id AS media_id,
      |         encode(text) AS content,
      |         CAST(n_chars % 640 AS INT) AS width,
      |         CAST(n_chars % 480 AS INT) AS height,
      |         n_chars * 10 AS duration_ms
      |  FROM documents WHERE doc_id % 3 = 2),
      |resized AS (
      |  SELECT *, CASE WHEN greatest(width, height) > 320
      |                 THEN CAST(320 AS DOUBLE) / greatest(width, height)
      |                 ELSE 1.0 END AS scale
      |  FROM media),
      |frames AS (
      |  SELECT media_id,
      |         CAST(floor(width * scale) AS INT) AS r_width,
      |         CAST(floor(height * scale) AS INT) AS r_height,
      |         unnest(generate_series(0,
      |           CAST(greatest(ceil(duration_ms / 1000.0), 1) AS BIGINT) - 1)) AS frame_idx,
      |         hex(content) AS content_hex, octet_length(content) AS n_bytes
      |  FROM resized)
      |SELECT media_id, frame_idx, frame_idx * 1000 AS frame_ts_ms,
      |       substring(content_hex,
      |         CAST((frame_idx % greatest(n_bytes, 1)) * 2 + 1 AS INT), 32) AS frame_hex,
      |       r_width, r_height
      |FROM frames ORDER BY media_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- q41
  /** Feature extraction over binary content: partition-local decode
    * stub → array<float> features (mapPartitions; codec init once per
    * partition). Fully oracled despite the float32 accumulator: every
    * partial sum is an integer below 2²⁴, where float32 arithmetic is
    * exact and order-free, so DuckDB can replay it with BIGINT sums,
    * byte extraction from the hex of the payload, and one float32
    * division. */
  val q41MediaFeatures: Q = (s, dir) => {
    import s.implicits._
    val media = Multimodal.mediaFromDocuments(s, dir)
    Multimodal.extractFeatures(media, dim = 16)
      .select($"media_id", $"kind", size($"features").as("n_feat"),
        round(element_at($"features", 1).cast("double"), 3).as("f0"))
      .orderBy($"media_id")
  }

  val q41Sql: String =
    """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |                  octet_length(encode(text)) AS nb FROM documents),
      |pos AS (SELECT media_id, nb, hx, unnest(generate_series(0, nb-1)) AS i FROM m),
      |byt AS (SELECT media_id, nb,
      |          CAST(i % 16 AS INT) AS dim,
      |          ((instr('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS INT), 1)) - 1) * 16
      |            + instr('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS INT), 1)) - 1)
      |            * (1 + i % 7) AS w
      |        FROM pos),
      |agg AS (SELECT media_id, dim,
      |          CAST(CAST(sum(w) AS BIGINT) AS FLOAT)
      |            / CAST(greatest(max(nb), 1) AS FLOAT) AS f
      |        FROM byt GROUP BY 1, 2)
      |SELECT media_id, ['image','audio','video'][CAST(media_id % 3 + 1 AS INT)] AS kind,
      |       16 AS n_feat, round(CAST(f AS DOUBLE), 3) AS f0
      |FROM agg WHERE dim = 0 ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q98
  /** REAL audio decode round-trip, oracle-gated by construction: per
    * doc_id, synthesize a WAV square wave with closed-form parameters
    * (amp = ((id%8)+1)·4000 — a multiple of 2⁵, so amp/2¹⁵ is an exact
    * binary fraction; block length b = 2^(id%3), which divides the 120
    * samples), run the actual javax.sound.sampled decode
    * ([[Multimodal.extractAudioFeatures]]), and compare the measured
    * RMS/ZCR against the arithmetic the oracle computes WITHOUT any
    * codec: RMS = amp/32768, ZCR = (120/b − 1)/119. A header mis-parse,
    * endianness flip, or channel-stride bug all shift the measured
    * stats off the closed form. (120 samples: every block length
    * divides it, and the gate checks decode correctness, not codec
    * throughput — the per-row encode+decode constant dominates this
    * query's cost, so the signal is as short as the math allows.) */
  val q98AudioDecode: Q = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir).select($"doc_id").as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val amp = ((id % 8) + 1).toInt * 4000
          val block = 1 << (id % 3).toInt
          (id, Multimodal.synthWavSquare(amp, block, n = 120))
        }
      }
      .toDF("media_id", "content")
    Multimodal.extractAudioFeatures(media)
      .select($"media_id", $"sample_rate".cast("int").as("sample_rate"),
        $"n_channels", $"n_frames",
        round($"rms", 6).as("rms"), round($"zcr", 6).as("zcr"))
      .orderBy($"media_id")
  }
  val q98Sql: String =
    """SELECT doc_id AS media_id, 8000 AS sample_rate, 1 AS n_channels,
      |       CAST(120 AS BIGINT) AS n_frames,
      |       round(((doc_id % 8) + 1) * 4000 / 32768.0, 6) AS rms,
      |       round((120 / (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END) - 1)
      |             / 119.0, 6) AS zcr
      |FROM documents ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q99
  /** REAL image decode round-trip, same mechanism as q98: per doc_id a
    * solid-gray PNG at level id%256 is encoded and decoded with the
    * actual JDK codecs; measured mean luminance must equal the gray
    * level (Rec.601 weights sum to 1; round(…,6) absorbs the last-ulp
    * float noise) and the HISTOGRAM's argmax bin — read from
    * `luma_hist` itself, so the binning code path is genuinely gated —
    * must be gray/16 (a solid image puts mass 1.0 in exactly one bin,
    * so the argmax is noise-free). */
  val q99ImageDecode: Q = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir).select($"doc_id").as[Long]
      .mapPartitions { it =>
        it.map(id => (id, Multimodal.synthGrayPng((id % 256).toInt)))
      }
      .toDF("media_id", "content")
    Multimodal.extractImageFeatures(media, bins = 16)
      .select($"media_id", $"img_width", $"img_height",
        round($"mean_luma", 6).as("mean_luma"),
        (array_position($"luma_hist", array_max($"luma_hist")) - 1)
          .cast("long").as("hot_bin"))
      .orderBy($"media_id")
  }
  val q99Sql: String =
    """SELECT doc_id AS media_id, 8 AS img_width, 6 AS img_height,
      |       round(CAST(doc_id % 256 AS DOUBLE), 6) AS mean_luma,
      |       CAST(floor((doc_id % 256) / 16) AS BIGINT) AS hot_bin
      |FROM documents ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q103
  /** Image near-dup dedup end-to-end: REAL encode→decode→perceptual
    * dHash ([[Multimodal.imageDHash]]) feeding the text path's
    * 64-bit pigeonhole banded join
    * ([[graft.operators.TextDedup.bandedHammingPairs64]], Hamming ≤ 3)
    * — image dedup at 100 TB with zero new join machinery.
    *
    * Gated by construction (the q98/q99 mechanism, extended to the
    * full 64-bit hash): per doc_id, [[Multimodal.synthGridPng]] builds
    * a 9×8 block image whose adjacent-cell brightness steps encode 8
    * known row bytes, so the dHash of the DECODED image equals those
    * bytes exactly and the oracle replays hash + pairing with integer
    * arithmetic alone — no codec on the DuckDB side. Any pooling,
    * luma, bit-packing, or banding bug shifts measured hashes off the
    * closed form and breaks the pair set.
    *
    * DIVERSE-hash fixture (pair output LINEAR in the corpus, so the
    * scale factor of this query measures the operator, not fixture
    * cardinality): docs pair up as `p = doc_id / 2`; each pair gets a
    * UNIQUE base image — row `gy` renders nibble `gy` of `p` through a
    * 16-entry extended-Hamming [8,4,4] codebook (min pairwise distance
    * 4), so ANY two distinct pairs differ by ≥ 4 bits. The odd partner
    * flips ONE bit of row 0 (hd = 1). Gating at maxHd = 2 is then
    * margin-proof: within-pair hd 1 ≤ 2; cross-pair base–base ≥ 4,
    * partner–partner ≥ 4 (the flips cancel), base–partner ≥ 3 > 2.
    * Exactly n/2 pairs come out — one per pair id — at every scale. */
  val q103ImageDedup: Q = (s, dir) => {
    import s.implicits._
    val ham = hamming84 // local copy: the task closure ships the array, not the module
    val media = Tables.documents(s, dir).select($"doc_id").as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val p = id / 2
          val v = (id % 2).toInt
          val rows = Array.tabulate(8) { gy =>
            val c = ham(((p >> (4 * gy)) & 15L).toInt)
            if (v == 1 && gy == 0) c ^ 1 else c
          }
          (id, Multimodal.synthGridPng(rows))
        }
      }
      .toDF("media_id", "content")
    val hashed = Multimodal.imageDHash(media)
      .filter($"sim_hi".isNotNull)
      .select($"media_id".as("id"), $"sim_hi", $"sim_lo")
    graft.operators.TextDedup.bandedHammingPairs64(hashed, maxHd = 2)
      .orderBy($"a_id", $"b_id")
  }
  val q103Sql: String =
    s"""WITH r AS (
      |  SELECT doc_id AS id, gy,
      |         xor(([${hamming84.mkString(", ")}])
      |               [CAST(((doc_id // 2) >> (4 * gy)) & 15 AS INT) + 1],
      |             CASE WHEN doc_id % 2 = 1 AND gy = 0 THEN 1 ELSE 0 END) AS rb
      |  FROM documents, unnest(generate_series(0, 7)) AS t(gy)),
      |h AS (
      |  SELECT id,
      |         CAST(sum(CASE WHEN gy < 4 THEN rb << (8 * gy) ELSE 0 END) AS BIGINT) AS sim_lo,
      |         CAST(sum(CASE WHEN gy >= 4 THEN rb << (8 * (gy - 4)) ELSE 0 END) AS BIGINT) AS sim_hi
      |  FROM r GROUP BY id)
      |SELECT a.id AS a_id, b.id AS b_id,
      |       bit_count(xor(a.sim_lo, b.sim_lo))
      |         + bit_count(xor(a.sim_hi, b.sim_hi)) AS hd
      |FROM h a JOIN h b ON a.id < b.id
      |WHERE bit_count(xor(a.sim_lo, b.sim_lo))
      |        + bit_count(xor(a.sim_hi, b.sim_hi)) <= 2
      |ORDER BY a_id, b_id""".stripMargin

  /** Registry: name → (spark program, oracle sql). */
  // --------------------------------------------------------------- q130
  /** REAL video decode round-trip (q98/q99 mechanism, extended to a
    * CONTAINER): per doc_id synthesize an MJPEG AVI
    * ([[Multimodal.synthAviMjpeg]]) with F = (id%3)+2 solid-gray
    * 48×32 frames at 10 fps, frame f's level g = (id·7 + f·29) % 256,
    * JPEG-encoded at quality 1.0 (uniform blocks quantize error-free,
    * so each frame round-trips its level exactly — the ±0.5 rounding
    * margin absorbs any last-ulp noise). Then run the ACTUAL decode
    * ([[Multimodal.extractVideoFeatures]]: RIFF chunk walk + per-frame
    * JDK JPEG decode) and gate geometry, frame count, duration and the
    * ORDER-WEIGHTED luma checksum Σ (f+1)·round(luma_f) against pure
    * doc_id arithmetic — a dropped, reordered or mis-decoded frame,
    * a header mis-parse, or a chunk-padding bug each move a checksum.
    * The oracle needs no codec: everything is closed-form in doc_id. */
  val q130VideoDecode: Q = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir).select($"doc_id").as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val nFrames = (id % 3).toInt + 2
          val frames = (0 until nFrames).map { f =>
            val g = ((id * 7 + f * 29) % 256).toInt
            val im = new java.awt.image.BufferedImage(48, 32,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (g << 16) | (g << 8) | g
            var y = 0
            while (y < 32) { var x = 0; while (x < 48) { im.setRGB(x, y, rgb); x += 1 }; y += 1 }
            Multimodal.encodeJpeg(im, 1.0f)
          }
          (id, Multimodal.synthAviMjpeg(frames, width = 48, height = 32, fps = 10))
        }
      }
      .toDF("media_id", "content")
    Multimodal.extractVideoFeatures(media)
      .select($"media_id", $"vid_width", $"vid_height", $"n_frames",
        $"duration_ms", $"luma_ck")
      .orderBy($"media_id")
  }
  val q130Sql: String =
    """SELECT doc_id AS media_id, 48 AS vid_width, 32 AS vid_height,
      |  CAST((doc_id % 3) + 2 AS BIGINT) AS n_frames,
      |  CAST(100 * ((doc_id % 3) + 2) AS BIGINT) AS duration_ms,
      |  CAST(list_sum(list_transform(generate_series(0, CAST(doc_id % 3 AS INT) + 1),
      |    f -> (f + 1) * ((doc_id * 7 + f * 29) % 256))) AS BIGINT) AS luma_ck
      |FROM documents ORDER BY media_id""".stripMargin

  val catalog: Seq[(String, Q, Option[String])] = Seq(
    ("q40_frame_sample", q40FrameSample, Some(q40Sql)),
    ("q41_media_features", q41MediaFeatures, Some(q41Sql)),
    ("q98_audio_decode", q98AudioDecode, Some(q98Sql)),
    ("q99_image_decode", q99ImageDecode, Some(q99Sql)),
    ("q103_image_dedup", q103ImageDedup, Some(q103Sql)),
    ("q130_video_decode", q130VideoDecode, Some(q130Sql)),
  )
}
