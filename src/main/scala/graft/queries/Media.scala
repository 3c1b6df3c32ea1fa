package graft
package queries

import org.apache.spark.sql.functions._

/** Multimodal queries over binary media columns. */
object Media {
  import Shared._

  /** Shared CTE chain for the audio-fingerprint oracles: G.711 µ-law
    * expansion of each text byte (the same expression as the
    * multimodal_ulaw_features oracle), framed into 256-sample windows
    * with zero-crossing counts and energy magnitudes. `tail` is either
    * a SELECT over the `frames` CTE or an additional CTE + SELECT
    * (starting with ","). */
  private def audioFrameSql(tail: String,
      source: String = "documents"): String = {
    val u = "xor(ascii(substr(text, CAST(k AS INT), 1)), 255)"
    val mant = s"(((($u) & 15) << 3) + 132) << ((($u) & 112) >> 4)"
    val ulaw = s"CASE WHEN (($u) & 128) != 0 THEN 132 - ($mant) ELSE ($mant) - 132 END"
    s"""WITH p AS (SELECT doc_id, length(text) AS len,
       |  list_transform(range(1, length(text) + 1), k -> $ulaw) AS pcm
       |  FROM $source),
       |f AS (SELECT doc_id, len, pcm,
       |  unnest(range(0, (len + 255) // 256)) AS fi FROM p),
       |frames AS (SELECT doc_id, CAST(fi AS INT) AS frame_idx,
       |  CAST(LEAST(len, 256 * (fi + 1)) - 256 * fi AS INT) AS n_samples,
       |  CAST(COALESCE(list_sum(list_transform(
       |    range(256 * fi + 1, LEAST(len, 256 * (fi + 1))),
       |    k -> CASE WHEN (pcm[CAST(k AS INT)] < 0) != (pcm[CAST(k + 1 AS INT)] < 0)
       |         THEN 1 ELSE 0 END)), 0) AS INT) AS zero_crossings,
       |  CAST(length(bin(CAST(list_sum(list_transform(
       |    pcm[CAST(256 * fi + 1 AS INT):CAST(LEAST(len, 256 * (fi + 1)) AS INT)],
       |    x -> abs(x))) AS BIGINT))) AS INT) AS energy_mag,
       |  CAST(COALESCE(list_sum(list_transform(
       |    range(256 * fi + 1, LEAST(len, 256 * (fi + 1)) + 1),
       |    k -> pcm[CAST(k AS INT)] * (k - 256 * fi))), 0) AS BIGINT) AS checksum
       |  FROM f)
       |$tail""".stripMargin
  }

  /** Shared CTE for the video frame-sample oracles: the mdat body is
    * the text bytes, framed at 1024-byte stride, every 2nd frame
    * sampled, position-weighted byte checksums. */
  private def videoFrameSql(tail: String, source: String): String =
    s"""WITH f AS (SELECT doc_id, length(text) AS len, text,
       |  unnest(range(0, (length(text) + 1023) // 1024)) AS fi FROM $source),
       |frames AS (SELECT doc_id, CAST(fi AS INT) AS frame_idx,
       |  CAST(LEAST(len, 1024 * (fi + 1)) - 1024 * fi AS INT) AS n_bytes,
       |  CAST(list_sum(list_transform(
       |    range(1024 * fi + 1, LEAST(len, 1024 * (fi + 1)) + 1),
       |    k -> ascii(substr(text, CAST(k AS INT), 1)) * (k - 1024 * fi)))
       |    AS BIGINT) AS checksum
       |  FROM f WHERE fi % 2 = 0)
       |$tail""".stripMargin

  // decoded-pixel video frames: w=8, h=6 (48 px), frame count
  // nf = 3 + len mod 3, pixel p of frame f = text byte
  // (f + p·⌈len/48⌉) mod len (each frame spans the whole text, samples
  // wrap past the end), every 2nd frame sampled, frame checksum =
  // modular rolling hash over the decoded 3-channel stream — mirrors
  // Multimodal.syntheticMotionVideo + videoFramePixelSignatures
  private def videoPixelFrameSql(tail: String, source: String): String =
    s"""WITH f AS (SELECT doc_id, length(text) AS len, text,
       |  GREATEST(1, (length(text) + 47) // 48) AS step,
       |  unnest(range(0, 3 + length(text) % 3)) AS fi FROM $source),
       |frames AS (SELECT doc_id, CAST(fi AS INT) AS frame_idx,
       |  CAST(8 AS INT) AS w, CAST(6 AS INT) AS h,
       |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(0, 144),
       |      k -> ascii(substr(text, CAST((fi + (k // 3) * step) % len AS INT) + 1, 1)))),
       |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS BIGINT) AS checksum
       |  FROM f WHERE fi % 2 = 0)
       |$tail""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ── multimodal (binary media columns; REAL content codecs) ─────────
    // true pixel/PCM statistics: payloads are real encoded BMP/PPM/WAV
    // bytes (pixel p = text byte p mod len; sample k = (byte_k−128)·256),
    // extractFeatures DECODES them (row flip, padding, BGR, sign-extend)
    // and the oracle recomputes the exact integer-sum stats from text
    QuerySpec("multimodal_features", (s, d) =>
      graft.multimodal.Multimodal.extractFeatures(
          graft.multimodal.Multimodal.syntheticPixelMedia(docs(s, d)))
        .toDF()
        .select(col("id").as("doc_id"), col("kind"),
          col("n_bytes").cast("long").as("n_bytes"), col("feat0"), col("feat1")),
      // real-content twin: recompute the decoded pixel/PCM statistics from
      // the source text (pixel p = byte p mod len; sample k = (byte_k−128)·256).
      // Sums are exact integers on both sides; the single double division of
      // the same rational is correctly rounded identically by both engines.
      // n_bytes: BMP = 54 hdr + padded rows; PPM = "P6\n{w} {h}\n255\n" + 3wh;
      // WAV = 44 hdr + 2·len.
      Oracle("""SELECT doc_id,
        |CASE WHEN doc_id % 4 = 0 THEN 'bmp' WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'wav' END AS kind,
        |CAST(CASE WHEN doc_id % 4 = 0 THEN 54 + ((3*w + 3) // 4 * 4) * h
        |  WHEN doc_id % 2 = 0 THEN 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + 3*w*h
        |  ELSE 44 + 2*len END AS BIGINT) AS n_bytes,
        |CASE WHEN doc_id % 2 = 0
        |  THEN CAST(list_sum(list_transform(range(0, w*h),
        |    p -> ascii(substr(text, CAST(p % len AS INT) + 1, 1)))) AS DOUBLE) / (w*h)
        |  ELSE CAST(list_sum(list_transform(range(1, len + 1),
        |    k -> (ascii(substr(text, CAST(k AS INT), 1)) - 128) * 256)) AS DOUBLE) / len
        |END AS feat0,
        |CASE WHEN doc_id % 2 = 0
        |  THEN CAST(list_sum(list_transform(range(0, w*h),
        |    p -> ascii(substr(text, CAST(p % len AS INT) + 1, 1))
        |       * ascii(substr(text, CAST(p % len AS INT) + 1, 1)))) AS DOUBLE) / (w*h)
        |  ELSE CAST(list_sum(list_transform(range(1, len + 1),
        |    k -> abs((ascii(substr(text, CAST(k AS INT), 1)) - 128) * 256))) AS DOUBLE) / len
        |END AS feat1
        |FROM (SELECT doc_id, text, length(text) AS len,
        |        1 + length(text) % 32 AS w, 1 + length(text) % 24 AS h
        |      FROM documents)""".stripMargin)),
    // REAL header decode: payloads carry valid PNG/JPEG/GIF container
    // headers (format by doc_id mod 3, dims from the body length);
    // imageDims parses them back byte-by-byte — the oracle checks the
    // encode∘decode round-trip from the source columns alone
    // the REAL media-ingest path: payloads land as FILES on disk, the
    // binaryFile source lists + reads them (path/length/content), ids
    // re-derive from filenames, the decoder runs over `content` — the
    // plumbing every image/audio corpus ingest starts with (at scale:
    // the same source over an object store, maxFilesPerTrigger for the
    // streaming form). Each call stages into a fresh scratch dir, so no
    // stale or concurrent run's files can leak into the listing.
    QuerySpec("binaryfile_ingest", (s, d) => {
      import s.implicits._
      val dir = graft.engine.Artifacts.scratchDir("graft_binfiles")
      docs(s, d).orderBy(col("doc_id")).limit(16)
        .select(col("doc_id"), col("text")).collect().foreach { r =>
          val id = r.getLong(0)
          val t = r.getString(1).getBytes("UTF-8")
          val len = math.max(t.length, 1)
          val w = 1 + (t.length % 32)
          val h = 1 + (t.length % 24)
          val payload = graft.multimodal.Multimodal.bmpPayload(w, h,
            p => if (t.isEmpty) 0 else t(p % len) & 0xff)
          java.nio.file.Files.write(dir.resolve(s"$id.bmp"), payload)
        }
      val bin = s.read.format("binaryFile").load(dir.toString)
        .select(regexp_extract(element_at(split(col("path"), "/"), -1),
          "^(\\d+)", 1).cast("long").as("id"),
          lit("bmp").as("kind"), col("content").as("media"),
          lit(0).as("width"), lit(0).as("height"))
        .as[graft.multimodal.Multimodal.MediaRow]
      graft.multimodal.Multimodal.extractFeatures(bin).toDF()
        .select(col("id").as("doc_id"), col("kind"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("feat0"), col("feat1"))
    },
      // header sizes: PNG sig+len+IHDR+dims = 24, JPEG SOI+SOF0 seg = 15,
      // GIF6+screen = 10 (texts are ASCII so length(text) = body bytes)
      Oracle("""SELECT doc_id, 'bmp' AS kind,
        |CAST(54 + ((3 * (1 + length(text) % 32) + 3) // 4 * 4)
        |  * (1 + length(text) % 24) AS BIGINT) AS n_bytes,
        |CAST(list_sum(list_transform(range(0, (1 + length(text) % 32) * (1 + length(text) % 24)),
        |  p -> ascii(substr(text, CAST(p % greatest(length(text), 1) AS INT) + 1, 1)))) AS DOUBLE)
        |  / ((1 + length(text) % 32) * (1 + length(text) % 24)) AS feat0,
        |CAST(list_sum(list_transform(range(0, (1 + length(text) % 32) * (1 + length(text) % 24)),
        |  p -> ascii(substr(text, CAST(p % greatest(length(text), 1) AS INT) + 1, 1))
        |    * ascii(substr(text, CAST(p % greatest(length(text), 1) AS INT) + 1, 1)))) AS DOUBLE)
        |  / ((1 + length(text) % 32) * (1 + length(text) % 24)) AS feat1
        |FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 16)""".stripMargin)),
    // typed metadata on the opaque media column, the REAL thing: a
    // spec-layout Exif APP1 (TIFF IFD0, BOTH byte orders planted by id
    // parity, offset-stored ASCII + inline SHORT/LONG entries) written
    // into each JPEG and walked back by a byte-level TIFF parser — all
    // values derive from id/text formulas, fully oracled
    QuerySpec("multimodal_exif_meta", (s, d) => {
      import s.implicits._
      val media = docs(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val t = text.getBytes("UTF-8")
          val w = 1 + (t.length % 640)
          val h = 1 + (t.length % 480)
          val jpeg = graft.multimodal.Multimodal.jpegPayload(w, h, t)
          val app1 = graft.multimodal.Multimodal.exifApp1(
            s"graft-${id % 10}", w.toLong, (id % 8 + 1).toInt,
            bigEndian = id % 2 == 0)
          graft.multimodal.Multimodal.MediaRow(id, "jpeg",
            graft.multimodal.Multimodal.withExif(jpeg, app1), w, h)
        }
      graft.multimodal.Multimodal.exifMeta(media).toDF()
        .select(col("id").as("doc_id"), col("byte_order"), col("make"),
          col("exif_width"), col("orientation"))
    },
      Oracle("""SELECT doc_id,
        |CASE WHEN doc_id % 2 = 0 THEN 'MM' ELSE 'II' END AS byte_order,
        |'graft-' || CAST(doc_id % 10 AS VARCHAR) AS make,
        |CAST(1 + length(text) % 640 AS BIGINT) AS exif_width,
        |CAST(doc_id % 8 + 1 AS BIGINT) AS orientation
        |FROM documents""".stripMargin)),
    QuerySpec("multimodal_image_dims", (s, d) =>
      graft.multimodal.Multimodal.decodeImageMeta(
          graft.multimodal.Multimodal.syntheticImages(docs(s, d)))
        .toDF()
        .select(col("id").as("doc_id"), col("format"), col("width"),
          col("height"), col("n_bytes").cast("long").as("n_bytes")),
      Oracle("""SELECT doc_id,
        |CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
        |CAST(1 + length(text) % 640 AS INT) AS width,
        |CAST(1 + length(text) % 480 AS INT) AS height,
        |CAST(length(text) + CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 15 ELSE 10 END AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin)),
    // WAV/RIFF twin of multimodal_image_dims: syntheticAudio wraps the
    // text bytes in a real 44-byte PCM header (layout derived from
    // doc_id), wavMeta chunk-walks it back — the oracle recomputes
    // every field from the source columns alone (ASCII texts, so
    // length(text) = body bytes; frame/duration math is exact integer)
    QuerySpec("multimodal_audio_meta", (s, d) =>
      graft.multimodal.Multimodal.decodeAudioMeta(
          graft.multimodal.Multimodal.syntheticAudio(docs(s, d)))
        .toDF()
        .select(col("id").as("doc_id"), col("format"), col("channels"),
          col("sample_rate"), col("bits_per_sample"), col("n_frames"),
          col("duration_ms")),
      // blockAlign = channels·bits/8; frames = body // blockAlign;
      // duration = frames·1000 // rate — all exact integer math
      Oracle("""SELECT doc_id, 'wav' AS format,
        |CAST(1 + doc_id % 2 AS INT) AS channels,
        |CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS INT) AS sample_rate,
        |CAST(8 * (1 + (doc_id // 2) % 2) AS INT) AS bits_per_sample,
        |CAST(length(text) // ((1 + doc_id % 2) * (1 + (doc_id // 2) % 2)) AS BIGINT) AS n_frames,
        |CAST((length(text) // ((1 + doc_id % 2) * (1 + (doc_id // 2) % 2))) * 1000
        |  // (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END) AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin)),
    // AIFF big-endian twin of the WAV feature decode: COMM parses the
    // 80-bit extended sample rate, SSND carries big-endian PCM16 — the
    // oracle recomputes the same amplitude statistics from the text
    QuerySpec("multimodal_aiff_features", (s, d) =>
      graft.multimodal.Multimodal.extractFeatures(
          graft.multimodal.Multimodal.syntheticAiffAudio(docs(s, d)))
        .toDF()
        .select(col("id").as("doc_id"), col("kind"),
          col("n_bytes").cast("long").as("n_bytes"), col("feat0"), col("feat1")),
      // AIFF twin: same linear sample map as the WAV twin; n_bytes =
      // FORM(12) + COMM(26) + SSND preamble(16) + 2·len = 54 + 2·len
      Oracle("""SELECT doc_id, 'aiff' AS kind,
        |CAST(54 + 2 * length(text) AS BIGINT) AS n_bytes,
        |CAST(list_sum(list_transform(range(1, length(text) + 1),
        |  k -> (ascii(substr(text, CAST(k AS INT), 1)) - 128) * 256)) AS DOUBLE)
        |  / length(text) AS feat0,
        |CAST(list_sum(list_transform(range(1, length(text) + 1),
        |  k -> abs((ascii(substr(text, CAST(k AS INT), 1)) - 128) * 256))) AS DOUBLE)
        |  / length(text) AS feat1
        |FROM documents""".stripMargin)),
    // JPEG (DCT, lossy by design): real entropy decode of ImageIO-
    // written streams; rows-only — the spec gates exact dims and a
    // DC-preservation band on the mean instead of a hash oracle
    QuerySpec("multimodal_jpeg_features", (s, d) =>
      graft.multimodal.Multimodal.extractCodecFeatures(
          graft.multimodal.Multimodal.syntheticJpegMedia(docs(s, d)))
        .toDF()
        .select(col("id").as("doc_id"), col("kind"), col("width"),
          col("height"), col("feat0"), col("feat1")),
      Gate("StreamingSpec 'jpeg decode: dims exact, mean inside the DC-preservation band'; exact fixture twin multimodal_jpeg_features_exact ORACLED")),
    // ORACLE-GRADE JPEG decode: solid-gray-128 fixtures. A constant
    // level-shifted-zero image has EVERY DCT coefficient exactly 0 in
    // every 8×8 block, so any conformant quantize→entropy→IDCT round
    // trip returns 128 at every pixel REGARDLESS of quant tables or
    // encoder — mean 128, mean-square 16384, dims from the id formula.
    // The full real entropy-decode + IDCT path runs with a VALUES-free
    // exact oracle (the lossy general case stays spec-gated above).
    QuerySpec("multimodal_jpeg_features_exact", (s, d) => {
      import s.implicits._
      val media = docs(s, d).orderBy(col("doc_id")).limit(8)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = 1 + (id % 32).toInt
          val h = 1 + (id % 24).toInt
          graft.multimodal.Multimodal.MediaRow(id, "jpeg",
            graft.multimodal.Multimodal.encodeImage("jpg", w, h, _ => 128),
            w, h)
        }
      graft.multimodal.Multimodal.extractCodecFeatures(media)
        .toDF()
        .select(col("id").as("doc_id"), col("kind"), col("width"),
          col("height"), col("feat0"), col("feat1"))
    },
      // solid-gray JPEG: every DCT coefficient is exactly zero, so the
      // decoded statistics are encoder-independent constants and the
      // dims come from the planted id formula — no engine state involved
      Oracle("""SELECT doc_id, 'jpeg' AS kind,
        |  CAST(1 + doc_id % 32 AS INTEGER) AS width,
        |  CAST(1 + doc_id % 24 AS INTEGER) AS height,
        |  CAST(128 AS DOUBLE) AS feat0, CAST(16384 AS DOUBLE) AS feat1
        |FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 8)""".stripMargin)),
    // MP4/ISO-BMFF twin for the VIDEO column: syntheticVideo builds a
    // real box tree (ftyp + moov[mvhd + tkhd per track] + mdat around
    // the text bytes); mp4Meta walks it back — brand, movie timescale,
    // duration, track count, and the 16.16-fixed video dimensions are
    // all recomputed by the oracle from the source columns alone
    QuerySpec("multimodal_video_meta", (s, d) =>
      graft.multimodal.Multimodal.decodeVideoMeta(
          graft.multimodal.Multimodal.syntheticVideo(docs(s, d)))
        .toDF()
        .select(col("id").as("doc_id"), col("brand"), col("timescale"),
          col("duration"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height")),
      // MP4 box-walk twin: duration = 7·len+13 movie-timescale units,
      // duration_ms = duration·1000 // timescale — exact integer math on
      // both sides; dims are the encoded 16.16 integer parts
      Oracle("""SELECT doc_id,
        |CASE doc_id % 2 WHEN 0 THEN 'isom' ELSE 'mp42' END AS brand,
        |CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS BIGINT) AS timescale,
        |CAST(7 * length(text) + 13 AS BIGINT) AS duration,
        |CAST((7 * length(text) + 13) * 1000
        |  // (CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END) AS BIGINT) AS duration_ms,
        |CAST(1 + doc_id % 2 AS INT) AS n_tracks,
        |CAST(16 * (1 + length(text) % 80) AS INT) AS width,
        |CAST(16 * (1 + length(text) % 45) AS INT) AS height
        |FROM documents""".stripMargin)),
    // COMMERCIAL-codec pixel decode: payloads are real DEFLATE/LZW
    // compressed PNG (doc_id%3=0), GIF (=1), TIFF (=2) streams encoded
    // through javax.imageio; extractCodecFeatures entropy-DECODES them
    // back to pixels. All three formats are lossless, so the decoded
    // intensity statistics hash-match an oracle recomputed from the
    // source text — even though the payload bytes are encoder-owned.
    QuerySpec("multimodal_codec_features", (s, d) =>
      graft.multimodal.Multimodal.extractCodecFeatures(
          graft.multimodal.Multimodal.syntheticCodecMedia(docs(s, d)))
        .toDF()
        .select(col("id").as("doc_id"), col("kind"), col("width"),
          col("height"), col("feat0"), col("feat1")),
      Oracle("""SELECT doc_id,
        |CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'tiff' END AS kind,
        |CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |CAST(list_sum(list_transform(range(0, w*h),
        |  p -> ascii(substr(text, CAST(p % len AS INT) + 1, 1)))) AS DOUBLE) / (w*h) AS feat0,
        |CAST(list_sum(list_transform(range(0, w*h),
        |  p -> ascii(substr(text, CAST(p % len AS INT) + 1, 1))
        |     * ascii(substr(text, CAST(p % len AS INT) + 1, 1)))) AS DOUBLE) / (w*h) AS feat1
        |FROM (SELECT doc_id, text, length(text) AS len,
        |        1 + length(text) % 32 AS w, 1 + length(text) % 24 AS h
        |      FROM documents)""".stripMargin)),
    // perceptual image hashes over DECODED pixels (aHash/dHash on an
    // exact point-sampled 8×8 grid — integer end to end, so the oracle
    // replays the hash from source text bit for bit)
    QuerySpec("multimodal_image_hash", (s, d) =>
      graft.multimodal.Multimodal.imageHashes(
          graft.multimodal.Multimodal.syntheticCodecMedia(docs(s, d)))
        .toDF()
        .select(col("id").as("doc_id"), col("kind"), col("width"),
          col("height"), col("ahash"), col("dhash")),
      // the aHash/dHash bit weights: bit 63 contributes the min-long
      // literal (a 1<<63 shift overflows DuckDB's checked BIGINT); the
      // HUGEINT list_sum of weights equals the two's-complement long
      Oracle("""WITH b AS (SELECT doc_id, text, length(text) AS len,
        |    1 + length(text) % 32 AS w, 1 + length(text) % 24 AS h FROM documents),
        |g AS (SELECT doc_id, w, h,
        |  list_transform(range(0, 64), k ->
        |    ascii(substr(text, CAST((((k // 8) * h // 8) * w + ((k % 8) * w // 8)) % len AS INT) + 1, 1))) AS sv,
        |  list_transform(range(0, 64), k ->
        |    CASE WHEN ascii(substr(text, CAST((((k // 8) * h // 8) * w + ((k % 8) * w // 9)) % len AS INT) + 1, 1))
        |       > ascii(substr(text, CAST((((k // 8) * h // 8) * w + (((k % 8) + 1) * w // 9)) % len AS INT) + 1, 1))
        |    THEN CASE WHEN k = 63 THEN -9223372036854775808::HUGEINT
        |              ELSE CAST(1::BIGINT << CAST(k AS INT) AS HUGEINT) END
        |    ELSE 0::HUGEINT END) AS dv
        |  FROM b),
        |h2 AS (SELECT doc_id, w, h, sv, list_sum(sv) AS tot, dv FROM g)
        |SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'tiff' END AS kind,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(list_sum(list_transform(sv, (v, i) ->
        |    CASE WHEN 64 * v > tot THEN
        |      CASE WHEN i = 64 THEN -9223372036854775808::HUGEINT
        |           ELSE CAST(1::BIGINT << CAST(i - 1 AS INT) AS HUGEINT) END
        |    ELSE 0::HUGEINT END)) AS BIGINT) AS ahash,
        |  CAST(list_sum(dv) AS BIGINT) AS dhash
        |FROM h2""".stripMargin)),
    // image near-dup mining by aHash Hamming ≤ 3: 4×16-bit banded
    // self-join (pigeonhole ⇒ recall 1 at ≤3 bits) + xor/bit_count
    // verify — banded plan, all-pairs ORACLE, equal by construction
    QuerySpec("multimodal_image_neardup", (s, d) =>
      graft.multimodal.Multimodal.imageNearDupPairs(
        graft.multimodal.Multimodal.imageHashes(
          graft.multimodal.Multimodal.syntheticCodecMedia(docs(s, d))).toDF()),
      Oracle("""WITH b AS (SELECT doc_id, text, length(text) AS len,
        |    1 + length(text) % 32 AS w, 1 + length(text) % 24 AS h FROM documents),
        |g AS (SELECT doc_id,
        |  list_transform(range(0, 64), k ->
        |    ascii(substr(text, CAST((((k // 8) * h // 8) * w + ((k % 8) * w // 8)) % len AS INT) + 1, 1))) AS sv
        |  FROM b),
        |h2 AS (SELECT doc_id, sv, list_sum(sv) AS tot FROM g),
        |hs AS (SELECT doc_id,
        |  CAST(list_sum(list_transform(sv, (v, i) ->
        |    CASE WHEN 64 * v > tot THEN
        |      CASE WHEN i = 64 THEN -9223372036854775808::HUGEINT
        |           ELSE CAST(1::BIGINT << CAST(i - 1 AS INT) AS HUGEINT) END
        |    ELSE 0::HUGEINT END)) AS BIGINT) AS ahash
        |  FROM h2)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
        |FROM hs a JOIN hs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3""".stripMargin)),
    // frame-based audio fingerprint over decoded G.711 PCM: per-frame
    // zero-crossing count + energy magnitude (exact integers ⇒ the
    // fingerprint replays from source text in the oracle)
    QuerySpec("multimodal_audio_fingerprint", (s, d) =>
      graft.multimodal.Multimodal.audioFingerprint(
          graft.multimodal.Multimodal.syntheticUlawAudio(docs(s, d)))
        .toDF()
        .select(col("id").as("doc_id"), col("frame_idx"), col("n_samples"),
          col("zero_crossings"), col("energy_mag"), col("checksum")),
      Oracle(audioFrameSql(
      """SELECT doc_id, frame_idx, n_samples, zero_crossings, energy_mag,
        |checksum FROM frames""".stripMargin))),
    // audio exact-dup pairs by fingerprint signature (order-sensitive
    // checksum fold over the frame fingerprints) — fully oracled; the
    // fixture plants byte-identical payload copies under shifted ids
    // (the base corpus has near-dups but no byte-exact ones)
    QuerySpec("multimodal_audio_dedup", (s, d) => {
      val base = docs(s, d)
      val withDups = base.select(col("doc_id"), col("text")).unionByName(
        base.filter(pmod(col("doc_id"), lit(25L)) === 3L)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.multimodal.Multimodal.audioDedupPairs(
        graft.multimodal.Multimodal.audioFingerprint(
          graft.multimodal.Multimodal.syntheticUlawAudio(withDups)).toDF())
    },
      Oracle(audioFrameSql(
      source = """(SELECT doc_id, text FROM documents
        | UNION ALL SELECT doc_id + 1000000, text FROM documents
        | WHERE doc_id % 25 = 3)""".stripMargin,
      tail = """, sigs AS (
        |  SELECT doc_id, count(*) AS n_frames,
        |    CAST(SUM(checksum * (frame_idx + 1) + zero_crossings * 131 + energy_mag)
        |      AS BIGINT) AS sig
        |  FROM frames GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  a.n_frames AS n_frames, a.sig AS sig
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |  AND a.n_frames = b.n_frames AND a.sig = b.sig""".stripMargin))),
    // CONTENT-BASED video frame signatures (the MJPEG shape): mdat
    // located by the real box walk, frames demuxed by their own image
    // headers, every 2nd frame DECODED through the pixel decoder
    // (un-flip, padding, BGR→RGB) and signed over the decoded stream —
    // a decode bug is an oracle mismatch, not a silent pass
    QuerySpec("multimodal_video_frames", (s, d) =>
      graft.multimodal.Multimodal.videoFramePixelSignatures(
          graft.multimodal.Multimodal.syntheticMotionVideo(docs(s, d)))
        .toDF()
        .select(col("id").as("doc_id"), col("frame_idx"), col("w"),
          col("h"), col("checksum")),
      // commercial-codec twin: payload bytes are encoder-owned DEFLATE/LZW
      // streams, but PNG/GIF/TIFF are LOSSLESS, so the decoded pixel
      // statistics are still the exact integer sums over the source text
      // bytes (pixel p = byte p mod len) — same stat shape as
      // multimodal_features, plus the decoded dimensions
      // decoded-pixel frame signatures: the oracle recomputes the frame
      // pixels from the source text (pixel p of frame f = byte
      // (f + p·nf) mod len) and replays the modular rolling hash over
      // the decoded 3-channel top-down stream (gray g repeats 3× per
      // pixel); any decode defect (row flip, padding, channel order)
      // breaks the equality
      Oracle(videoPixelFrameSql(
      """SELECT doc_id, frame_idx, w, h, checksum FROM frames""",
      source = "documents"))),
    // the raw-stride fallback (codecs without an in-engine decoder)
    // stays declared + oracled under its own name
    QuerySpec("multimodal_video_frames_raw", (s, d) =>
      graft.multimodal.Multimodal.videoFrameSignatures(
          graft.multimodal.Multimodal.syntheticVideo(docs(s, d)))
        .toDF()
        .select(col("id").as("doc_id"), col("frame_idx"), col("n_bytes"),
          col("checksum")),
      Oracle(videoFrameSql(
      """SELECT doc_id, frame_idx, n_bytes, checksum FROM frames""",
      source = "documents"))),
    // video dup pairs by DECODED-pixel frame signatures over a
    // planted-copies fixture (same shape as multimodal_audio_dedup) —
    // dedup now follows content, not container bytes; fully oracled
    QuerySpec("multimodal_video_dedup", (s, d) => {
      val base = docs(s, d)
      val withDups = base.select(col("doc_id"), col("text")).unionByName(
        base.filter(pmod(col("doc_id"), lit(25L)) === 3L)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.multimodal.Multimodal.videoDedupPairs(
        graft.multimodal.Multimodal.videoFramePixelSignatures(
            graft.multimodal.Multimodal.syntheticMotionVideo(withDups))
          .toDF()
          .select(col("id"), col("frame_idx"),
            (col("w") * col("h")).as("n_bytes"), col("checksum")))
    },
      Oracle(videoPixelFrameSql(
      source = """(SELECT doc_id, text FROM documents
        | UNION ALL SELECT doc_id + 1000000, text FROM documents
        | WHERE doc_id % 25 = 3)""".stripMargin,
      tail = """, sigs AS (
        |  SELECT doc_id, count(*) AS n_frames,
        |    CAST(SUM(checksum * (frame_idx + 1) + w * h) AS BIGINT) AS sig
        |  FROM frames GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  a.n_frames AS n_frames, a.sig AS sig
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |  AND a.n_frames = b.n_frames AND a.sig = b.sig""".stripMargin))),
    QuerySpec("multimodal_chunks", (s, d) =>
      graft.multimodal.Multimodal.sampleChunks(
          graft.multimodal.Multimodal.syntheticMedia(docs(s, d)), 64, 2)
        .select(col("id").as("doc_id"), col("chunk_idx"), col("chunk_len"),
          col("chunk_prefix")),
      Oracle("""SELECT doc_id, CAST(idx AS INT) AS chunk_idx,
        |CAST(LEAST(64, length(text) - idx*64) AS INT) AS chunk_len,
        |lower(hex(encode(substr(text, CAST(idx*64 + 1 AS INT), 8)))) AS chunk_prefix
        |FROM (SELECT doc_id, text,
        |  unnest(range(0, CAST(ceil(length(text)/64.0) AS BIGINT), 2)) AS idx
        |  FROM documents)""".stripMargin)),
    // G.711 µ-law telephony audio: payloads are real format-tag-7 WAVs
    // (one µ-law byte per text byte); extractFeatures expands each
    // sample through the canonical companding formula — the oracle
    // applies the same exact integer expansion to the source bytes
    QuerySpec("multimodal_ulaw_features", (s, d) =>
      graft.multimodal.Multimodal.extractFeatures(
          graft.multimodal.Multimodal.syntheticUlawAudio(docs(s, d)))
        .toDF()
        .select(col("id").as("doc_id"), col("kind"),
          col("n_bytes").cast("long").as("n_bytes"), col("feat0"), col("feat1")),
      // µ-law twin: the G.711 expansion (complement; (mantissa·8+132)
      // shifted by segment; bias subtracted; sign applied) in exact
      // integer SQL over the same source bytes
      Oracle("""SELECT doc_id, 'ulaw' AS kind,
        |CAST(44 + length(text) AS BIGINT) AS n_bytes,
        |CAST(list_sum(list_transform(range(1, length(text) + 1), k ->
        |  CASE WHEN (xor(ascii(substr(text, CAST(k AS INT), 1)), 255) & 128) != 0
        |    THEN 132 - ((((xor(ascii(substr(text, CAST(k AS INT), 1)), 255) & 15) << 3) + 132)
        |                 << ((xor(ascii(substr(text, CAST(k AS INT), 1)), 255) & 112) >> 4))
        |    ELSE ((((xor(ascii(substr(text, CAST(k AS INT), 1)), 255) & 15) << 3) + 132)
        |            << ((xor(ascii(substr(text, CAST(k AS INT), 1)), 255) & 112) >> 4)) - 132
        |  END)) AS DOUBLE) / length(text) AS feat0,
        |CAST(list_sum(list_transform(range(1, length(text) + 1), k ->
        |  abs(CASE WHEN (xor(ascii(substr(text, CAST(k AS INT), 1)), 255) & 128) != 0
        |    THEN 132 - ((((xor(ascii(substr(text, CAST(k AS INT), 1)), 255) & 15) << 3) + 132)
        |                 << ((xor(ascii(substr(text, CAST(k AS INT), 1)), 255) & 112) >> 4))
        |    ELSE ((((xor(ascii(substr(text, CAST(k AS INT), 1)), 255) & 15) << 3) + 132)
        |            << ((xor(ascii(substr(text, CAST(k AS INT), 1)), 255) & 112) >> 4)) - 132
        |  END))) AS DOUBLE) / length(text) AS feat1
        |FROM documents""".stripMargin)),
    // TRUE pixel resize through the compressed codecs: entropy-decode
    // PNG/GIF/TIFF, 2×2 box-average pool (edge boxes average what's
    // present, exact integer floor division), stats of the RESIZED image
    QuerySpec("multimodal_resize_pixels", (s, d) =>
      graft.multimodal.Multimodal.resizePixels(
          graft.multimodal.Multimodal.syntheticCodecMedia(docs(s, d)))
        .toDF()
        .select(col("id").as("doc_id"), col("kind"), col("width"),
          col("height"), col("feat0"), col("feat1")),
      // true-resize twin: out pixel (i,j) = floor-average of the 2×2 box
      // at (2i,2j) clipped to the image (pixel p of the source = text byte
      // p mod len) — exact integer division on both sides, then the same
      // exact-sum statistics as the other decode twins
      Oracle("""SELECT doc_id, kind, CAST(ow AS INT) AS width, CAST(oh AS INT) AS height,
        |CAST(list_sum(vals) AS DOUBLE) / (ow*oh) AS feat0,
        |CAST(list_sum(list_transform(vals, v -> v*v)) AS DOUBLE) / (ow*oh) AS feat1
        |FROM (
        |SELECT doc_id, kind, ow, oh,
        |  list_transform(range(0, ow*oh), p ->
        |    ( ascii(substr(text, CAST((2*(p//ow)*w + 2*(p%ow)) % len AS INT) + 1, 1))
        |    + CASE WHEN 2*(p%ow)+1 < w
        |        THEN ascii(substr(text, CAST((2*(p//ow)*w + 2*(p%ow)+1) % len AS INT) + 1, 1))
        |        ELSE 0 END
        |    + CASE WHEN 2*(p//ow)+1 < h
        |        THEN ascii(substr(text, CAST(((2*(p//ow)+1)*w + 2*(p%ow)) % len AS INT) + 1, 1))
        |        ELSE 0 END
        |    + CASE WHEN 2*(p%ow)+1 < w AND 2*(p//ow)+1 < h
        |        THEN ascii(substr(text, CAST(((2*(p//ow)+1)*w + 2*(p%ow)+1) % len AS INT) + 1, 1))
        |        ELSE 0 END
        |    ) // ((CASE WHEN 2*(p%ow)+1 < w THEN 2 ELSE 1 END)
        |         * (CASE WHEN 2*(p//ow)+1 < h THEN 2 ELSE 1 END))) AS vals
        |FROM (SELECT doc_id, text, length(text) AS len,
        |        CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'tiff' END AS kind,
        |        1 + length(text) % 32 AS w, 1 + length(text) % 24 AS h,
        |        (1 + length(text) % 32 + 1) // 2 AS ow,
        |        (1 + length(text) % 24 + 1) // 2 AS oh
        |      FROM documents))""".stripMargin)),
    QuerySpec("multimodal_resize", (s, d) =>
      graft.multimodal.Multimodal.resize(
          graft.multimodal.Multimodal.syntheticMedia(docs(s, d)), 4)
        .select(col("id").as("doc_id"), col("kind"), col("n_bytes"),
          col("resized_len"), col("resized_sum")),
      Oracle("""SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
        |CAST(length(text) AS INT) AS n_bytes,
        |CAST(ceil(length(text) / 4.0) AS INT) AS resized_len,
        |CAST(list_sum(list_transform(range(0, CAST(ceil(length(text)/4.0) AS BIGINT)),
        |  i -> ascii(substr(text, CAST(i*4+1 AS INT), 1)))) AS BIGINT) AS resized_sum
        |FROM documents""".stripMargin))
  )
}
