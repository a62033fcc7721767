package graft
package gates

import org.apache.spark.sql.functions.{array_join, col, element_at, length,
  octet_length}
import GateSql._

/** Gates over [[operators.Multimodal]]: image, video and byte-histogram
  * features. */
private[gates] object MediaGates {

  /** DuckDB replica of [[operators.Multimodal.fakeDecode]]'s normalized
    * 16-bucket byte histogram. The payload is the UTF-8 bytes of `text`; the
    * corpus is ASCII (asserted in OperatorsSpec), so per-BYTE bucket counts
    * equal per-CHARACTER counts and each bucket is one `[\\x..-\\x..]` regex
    * deletion count. count/total division is exact-int-over-exact-int in
    * IEEE doubles on both engines — hash-exact. */
  private def duckMediaFeaturesSql: String = {
    val buckets = (0 until 16).map { b =>
      val lo = f"${b * 16}%02x"
      val hi = f"${b * 16 + 15}%02x"
      s"CAST(length(text) - length(regexp_replace(text, '[\\x$lo-\\x$hi]', '', 'g')) AS DOUBLE)" +
        f" / greatest(CAST(1 AS DOUBLE), CAST(length(text) AS DOUBLE)) AS f$b%02d"
    }
    s"""SELECT doc_id, ${buckets.mkString(",\n  ")}
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of the REAL PNG round-trip ([[operators.Multimodal
    * .withMediaPng]] → [[operators.Multimodal.decodeImageFeatures]]):
    * grayscale PNG is lossless, so decoded pixel i equals the text byte at
    * `i mod len` — the oracle regenerates the 256 pixels per document with
    * `generate_series` and buckets them exactly like the decoder
    * (`g*16/256`, count/256 — both divisions exact in IEEE doubles). The
    * corpus is ASCII (asserted in the query), so `ascii()` on a character
    * equals the UTF-8 byte. */
  private def duckMediaDecodeSql: String = {
    val buckets = (0 until 16).map { b =>
      s"CAST(sum(CASE WHEN g // 16 = $b THEN 1 ELSE 0 END) AS DOUBLE) / 256.0" +
        f" AS f$b%02d"
    }
    s"""WITH px AS (
       |  SELECT d.doc_id,
       |    CASE WHEN length(d.text) = 0 THEN 0
       |         ELSE ascii(substr(d.text, CAST(t.i % length(d.text) AS INT) + 1, 1))
       |    END AS g
       |  FROM documents d CROSS JOIN generate_series(0, 255) AS t(i)
       |)
       |SELECT doc_id, ${buckets.mkString(",\n  ")}
       |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of the resize chain ([[operators.Multimodal
    * .resizeImages]] 16×16 → 8×8 nearest-neighbor): kept pixel (dx, dy)
    * is source index `2·dy·16 + 2·dx`, whose value is the text byte at
    * that index mod len — the 64-pixel histogram regenerates from the
    * text with the same `g·16/256` bucketing, count / 64. */
  private def duckMediaResizeSql: String = {
    val buckets = (0 until 16).map { b =>
      s"CAST(sum(CASE WHEN g // 16 = $b THEN 1 ELSE 0 END) AS DOUBLE) / 64.0" +
        f" AS f$b%02d"
    }
    s"""WITH px AS (
       |  SELECT d.doc_id,
       |    CASE WHEN length(d.text) = 0 THEN 0
       |         ELSE ascii(substr(d.text,
       |           CAST((2 * ty.dy * 16 + 2 * tx.dx) % length(d.text) AS INT) + 1, 1))
       |    END AS g
       |  FROM documents d
       |  CROSS JOIN generate_series(0, 7) AS tx(dx)
       |  CROSS JOIN generate_series(0, 7) AS ty(dy)
       |)
       |SELECT doc_id, ${buckets.mkString(",\n  ")}
       |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of the REAL AVI round-trip ([[operators.Multimodal
    * .withMediaAvi]] → [[operators.Multimodal.decodeVideoFeatures]]):
    * losslessly-compressed frames mean decoded frame `f` pixel `i` equals
    * the text byte at `(i+f) mod len` — regenerated with a frames ×
    * pixels double `generate_series` and bucketed exactly like the
    * decoder (`g*16/256`, count/1024; both divisions exact in IEEE
    * doubles). Container metadata (frame count, geometry) replays as the
    * muxer's constants. ASCII corpus asserted in the Spark query. */
  private def duckMediaVideoSql: String = {
    val nf = operators.Multimodal.AviFrames
    val side = operators.Multimodal.PngSide
    val px = side * side
    val totalPx = nf * px
    val buckets = (0 until 16).map { b =>
      s"CAST(sum(CASE WHEN g // 16 = $b THEN 1 ELSE 0 END) AS DOUBLE) / $totalPx.0" +
        f" AS f$b%02d"
    }
    s"""WITH px AS (
       |  SELECT d.doc_id,
       |    CASE WHEN length(d.text) = 0 THEN 0
       |         ELSE ascii(substr(d.text,
       |           CAST((t.i + fr.f) % length(d.text) AS INT) + 1, 1))
       |    END AS g
       |  FROM documents d
       |    CROSS JOIN generate_series(0, ${nf - 1}) AS fr(f)
       |    CROSS JOIN generate_series(0, ${px - 1}) AS t(i)
       |)
       |SELECT doc_id, CAST($nf AS INT) AS n_frames,
       |  CAST($side AS INT) AS width, CAST($side AS INT) AS height,
       |  ${buckets.mkString(",\n  ")}
       |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  val all: Seq[Gate] = Seq(
    Gate("q_media_dhash", (s, d) => {
      // perceptual dHash through the REAL codec chain: text → PNG encode
      // → decode → 9×8 nearest-neighbor sample → 63-bit gradient hash;
      // the oracle regenerates the hash from the pixel function alone
      val docs = s.table("documents").withColumn("text",
        textChecked(col("text"),
          length(col("text")) =!= octet_length(col("text").cast("binary")),
          "q_media_dhash oracle precondition violated: non-ASCII document"))
      val media = operators.Multimodal.withMediaPng(s, docs, "doc_id", "text")
      operators.Multimodal.imageDHash(s, media, "doc_id")
        .orderBy(col("doc_id"))
    },
      // Replays Multimodal.imageDHash from the pixel function: 16×16 PNG
      // pixel i = text byte at i mod len (lossless grayscale), sample
      // (dx,dy) → source index 2·dy·16 + ⌊dx·16/9⌋, one gradient bit per
      // horizontal neighbor pair, the 63-bit shift-sum.
      """WITH g AS (
        |  SELECT d.doc_id, tx.dx, ty.dy,
        |    CASE WHEN length(d.text) = 0 THEN 0
        |      ELSE ascii(substr(d.text,
        |        CAST((2 * ty.dy * 16 + (tx.dx * 16) // 9) % length(d.text)
        |          AS INT) + 1, 1))
        |    END AS g
        |  FROM documents d
        |  CROSS JOIN generate_series(0, 8) AS tx(dx)
        |  CROSS JOIN generate_series(0, 7) AS ty(dy))
        |SELECT a.doc_id,
        |  CAST(sum(CASE WHEN b.g > a.g
        |    THEN (1::BIGINT << CAST(a.dy * 8 + a.dx AS INT)) ELSE 0 END)
        |    AS BIGINT) AS dhash
        |FROM g a JOIN g b
        |  ON a.doc_id = b.doc_id AND a.dy = b.dy AND b.dx = a.dx + 1
        |WHERE a.dx <= 7 AND NOT (a.dx = 7 AND a.dy = 7)
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin),
    Gate("q_media_dhash_pairs", (s, d) => {
      // image near-dup pairs on the dHash via the 16-bit chunk-banding
      // pigeonhole — candidates scale with true near-dups (the planted
      // duplicate documents), never n²; the oracle brute-forces the
      // small corpus
      val docs = s.table("documents").withColumn("text",
        textChecked(col("text"),
          length(col("text")) =!= octet_length(col("text").cast("binary")),
          "q_media_dhash_pairs oracle precondition violated: non-ASCII document"))
      val media = operators.Multimodal.withMediaPng(s, docs, "doc_id", "text")
      val hashes = operators.Multimodal.imageDHash(s, media, "doc_id")
      operators.Multimodal.dhashPairs(hashes, "doc_id", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    },
      // Replays Multimodal.dhashPairs by brute force on the regenerated
      // hashes — the banding is a candidate OPTIMIZATION, the pair set is
      // defined by the hamming budget alone.
      """WITH g AS (
        |  SELECT d.doc_id, tx.dx, ty.dy,
        |    CASE WHEN length(d.text) = 0 THEN 0
        |      ELSE ascii(substr(d.text,
        |        CAST((2 * ty.dy * 16 + (tx.dx * 16) // 9) % length(d.text)
        |          AS INT) + 1, 1))
        |    END AS g
        |  FROM documents d
        |  CROSS JOIN generate_series(0, 8) AS tx(dx)
        |  CROSS JOIN generate_series(0, 7) AS ty(dy)),
        |h AS (
        |  SELECT a.doc_id,
        |    CAST(sum(CASE WHEN b.g > a.g
        |      THEN (1::BIGINT << CAST(a.dy * 8 + a.dx AS INT)) ELSE 0 END)
        |      AS BIGINT) AS dhash
        |  FROM g a JOIN g b
        |    ON a.doc_id = b.doc_id AND a.dy = b.dy AND b.dx = a.dx + 1
        |  WHERE a.dx <= 7 AND NOT (a.dx = 7 AND a.dy = 7)
        |  GROUP BY a.doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),
    Gate("q_media_features", (s, d) => {
      // PLUMBING-ONLY gate — the decoder here is the clearly-marked
      // byte-histogram stand-in (fakeDecode), NOT a codec; what this gate
      // proves is the mapPartitions plug-point end-to-end (binary payload
      // → per-partition iterator → fixed-width feature vector), hash-exact.
      // The REAL codec gates are q_media_decode (PNG), q_media_audio
      // (WAV), and q_media_video (AVI demux + per-frame decode).
      // oracle precondition: the DuckDB replica of the byte-histogram counts
      // CHARACTERS per bucket, equal to the Scala per-BYTE histogram only
      // for single-byte (ASCII) text — asserted per row on the gated corpus
      val docs = s.table("documents").withColumn("text",
        textChecked(col("text"),
          length(col("text")) =!= octet_length(col("text").cast("binary")),
          "q_media_features oracle precondition violated: non-ASCII document"))
      val m = operators.Multimodal.withMedia(docs, "doc_id", "text")
      val feats = operators.Multimodal.decodeFeatures(s, m, "doc_id")
      // project the vector to scalar columns: float-array columns defeat the
      // gate's row-sort + hash compare, scalars don't
      feats.select(col("doc_id") +:
          (0 until 16).map(i => element_at(col("features"), i + 1).as(f"f$i%02d")): _*)
        .orderBy(col("doc_id"))
    },
      duckMediaFeaturesSql),
    Gate("q_media_decode", (s, d) => {
      // REAL codec round-trip at the same plug-point: text → javax.imageio
      // PNG ENCODE (per-partition) → binary media column → javax.imageio
      // DECODE → grayscale pixel histogram. Grayscale PNG is lossless, so
      // the oracle replays the pixel function (byte at i mod len, 256
      // pixels) from the text alone — the gate proves a genuine image
      // codec ran, not the byte-histogram stand-in.
      // same ASCII precondition as q_media_features: the oracle's ascii()
      // indexes characters, the PNG pixels index bytes
      val docs = s.table("documents").withColumn("text",
        textChecked(col("text"),
          length(col("text")) =!= octet_length(col("text").cast("binary")),
          "q_media_decode oracle precondition violated: non-ASCII document"))
      val media = operators.Multimodal.withMediaPng(s, docs, "doc_id", "text")
      val feats = operators.Multimodal.decodeImageFeatures(s, media, "doc_id")
      feats.select(col("doc_id") +:
          (0 until 16).map(i => element_at(col("features"), i + 1).as(f"f$i%02d")): _*)
        .orderBy(col("doc_id"))
    },
      duckMediaDecodeSql),
    Gate("q_media_resize", (s, d) => {
      // REAL resize in the codec chain: text → PNG encode (16×16) →
      // javax.imageio decode → integer nearest-neighbor resample to 8×8
      // → PNG re-encode → decode → histogram over the 64 kept pixels.
      // NN keeps pixel VALUES intact, so the oracle replays the sampled
      // grid (src index 2dy·16 + 2dx, byte mod len) from the text alone
      // — proving decode, geometry arithmetic, and re-encode all ran.
      val docs = s.table("documents").withColumn("text",
        textChecked(col("text"),
          length(col("text")) =!= octet_length(col("text").cast("binary")),
          "q_media_resize oracle precondition violated: non-ASCII document"))
      val media = operators.Multimodal.withMediaPng(s, docs, "doc_id", "text")
      val small = operators.Multimodal.resizeImages(s, media, "doc_id",
        outW = 8, outH = 8)
      val feats = operators.Multimodal.decodeImageFeatures(s, small, "doc_id")
      feats.select(col("doc_id") +:
          (0 until 16).map(i => element_at(col("features"), i + 1).as(f"f$i%02d")): _*)
        .orderBy(col("doc_id"))
    },
      duckMediaResizeSql),
    Gate("q_media_video", (s, d) => {
      // REAL video round-trip: text → per-frame PNG encode → our RIFF/AVI
      // muxer (fourcc MPNG, the lossless motion-PNG MJPEG variant) →
      // container walk + per-frame javax.imageio decode → pooled pixel
      // histogram + container metadata. Lossless frames let the oracle
      // replay frame f's pixel i = byte (i+f) mod len from the text alone
      // — the gate proves a genuine demux-and-decode ran end-to-end.
      val docs = s.table("documents").withColumn("text",
        textChecked(col("text"),
          length(col("text")) =!= octet_length(col("text").cast("binary")),
          "q_media_video oracle precondition violated: non-ASCII document"))
      val media = operators.Multimodal.withMediaAvi(s, docs, "doc_id", "text")
      val feats = operators.Multimodal.decodeVideoFeatures(s, media, "doc_id")
      feats.select(Seq(col("doc_id"), col("n_frames"), col("width"),
          col("height")) ++
          (0 until 16).map(i => element_at(col("features"), i + 1).as(f"f$i%02d")): _*)
        .orderBy(col("doc_id"))
    },
      duckMediaVideoSql),
    Gate("q_media_video_mjpeg", (s, d) => {
      // REAL lossy video codec end-to-end: text → per-frame javax.imageio
      // JPEG encode (explicit quality 1.0) → RIFF/AVI mux (fourcc MJPG —
      // true motion-JPEG, the codec a real MJPEG pipeline carries) →
      // container walk + fccHandler-dispatched per-frame JPEG decode →
      // per-pixel comparison against the generator contract. JPEG is
      // lossy, so exact pixels are not SQL-replayable the way the
      // motion-PNG gate's are; the oracle instead pins the DISCRETIZED
      // fidelity band floor(mae/8) = 0 (measured mae ≲ 2 at quality 1.0,
      // an order of magnitude inside the band edge) plus the exact
      // container geometry — a broken demux, the wrong frame codec, or
      // garbage pixels all land bands away from 0, and the lossless MPNG
      // path stays separately pixel-exact under q_media_video.
      val docs = s.table("documents").withColumn("text",
        textChecked(col("text"),
          length(col("text")) =!= octet_length(col("text").cast("binary")),
          "q_media_video_mjpeg oracle precondition violated: non-ASCII document"))
      val media = operators.Multimodal.withMediaAviMjpeg(s, docs, "doc_id", "text")
      operators.Multimodal.decodeVideoFidelity(s, media, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // JPEG is lossy: the twin replays the deterministic CONTRACT of the
      // fidelity decode (container geometry + the discretized error band,
      // 0 for every document at quality 1.0) rather than exact pixels —
      // see the gate comment; the Spark side computes the band from real
      // decoded JPEG pixels.
      s"""SELECT doc_id,
         |  CAST(${operators.Multimodal.AviFrames} AS INT) AS n_frames,
         |  CAST(${operators.Multimodal.PngSide} AS INT) AS width,
         |  CAST(${operators.Multimodal.PngSide} AS INT) AS height,
         |  CAST(0 AS INT) AS mae_band
         |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("q_media_video_raw", (s, d) => {
      // the third real-world AVI variant: UNCOMPRESSED bottom-up BGR24
      // DIB frames (strh fccHandler 'DIB ', strf biCompression BI_RGB) —
      // the classic capture-tool format, no codec at all. Lossless, so
      // the pooled-histogram oracle is the SAME pixel-exact DuckDB twin
      // as the motion-PNG gate; the bottom-up row order and stride walk
      // are position-verified by the fidelity spec (histograms alone are
      // row-order-invariant, mae is not).
      val docs = s.table("documents").withColumn("text",
        textChecked(col("text"),
          length(col("text")) =!= octet_length(col("text").cast("binary")),
          "q_media_video_raw oracle precondition violated: non-ASCII document"))
      val media = operators.Multimodal.withMediaAviRaw(s, docs, "doc_id", "text")
      val feats = operators.Multimodal.decodeVideoFeatures(s, media, "doc_id")
      feats.select(Seq(col("doc_id"), col("n_frames"), col("width"),
          col("height")) ++
          (0 until 16).map(i => element_at(col("features"), i + 1).as(f"f$i%02d")): _*)
        .orderBy(col("doc_id"))
    },
      // uncompressed DIB frames are lossless like motion-PNG, so the raw
      // gate shares the pixel-exact histogram twin verbatim
      duckMediaVideoSql),
    Gate("q_media_audio", (s, d) => {
      // REAL audio-container round-trip: text → javax.sound.sampled WAV
      // ENCODE (PCM16 mono, sample i = (byte_{i mod len} − 128)·256) →
      // binary media column → RIFF/WAVE PARSE → amplitude histogram. PCM
      // is lossless and the amplitude buckets collapse to byte // 16, so
      // the IMAGE decode oracle replays this gate too — one oracle, two
      // genuine codecs.
      val docs = s.table("documents").withColumn("text",
        textChecked(col("text"),
          length(col("text")) =!= octet_length(col("text").cast("binary")),
          "q_media_audio oracle precondition violated: non-ASCII document"))
      val media = operators.Multimodal.withMediaWav(s, docs, "doc_id", "text")
      val feats = operators.Multimodal.decodeAudioFeatures(s, media, "doc_id")
      feats.select(col("doc_id") +:
          (0 until 16).map(i => element_at(col("features"), i + 1).as(f"f$i%02d")): _*)
        .orderBy(col("doc_id"))
    },
      // The WAV gate's amplitude buckets reduce to the same byte // 16
      // histogram (sample = (b−128)·256 → (s+32768)·16/65536 = b·16/256),
      // so the image-decode oracle replays the audio round-trip verbatim.
      duckMediaDecodeSql),
    Gate("q_media_frames", (s, d) => {
      val m = operators.Multimodal.withMedia(s.table("documents"), "doc_id", "text")
      operators.Multimodal.frameSamples(m)
        .select(col("doc_id"), col("media_meta.n_bytes").as("n_bytes"),
          col("media_meta.content_md5").as("content_md5"),
          array_join(col("frames"), ",").as("frames_joined"))
        .orderBy(col("doc_id"))
    },
      // byte-exact frame slicing: DuckDB 1.0 has no BLOB substr, so slice
      // the hex encoding (2 chars per byte) — equivalent to Spark's
      // substring on the binary payload even for multi-byte UTF-8 text
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  array_to_string(list_transform(generate_series(0, 3), f ->
        |    substr(lower(hex(encode(text))),
        |      CAST(floor(f * greatest(octet_length(encode(text)) - 16, 1) / 4.0 + 1) AS INT) * 2 - 1,
        |      32)), ',') AS frames_joined
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
