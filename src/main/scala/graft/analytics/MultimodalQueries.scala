package graft.analytics

import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.Multimodal

/** Oracle coverage for the multimodal tier.
  *
  * Since round 9 the image and audio queries run over REAL container files:
  * `Multimodal.bmpMedia` / `wavMedia` build genuine BMP / RIFF-WAVE-PCM
  * bytes (seeded by the md5 chain of each document's text), and the Spark
  * side must recover every feature FROM the container — header parse,
  * 4-byte row stride, bottom-up row flip, RIFF chunk walk, signed-LE
  * samples. The DuckDB oracle recomputes the same features from the SEED
  * (`md5(text) || md5(text || 'a') || …` hex arithmetic), so an encoder or
  * parser that mishandles any format fact shows up as a hash mismatch, not
  * a silent agreement. Raw-payload queries (histogram, video frame
  * sampling) keep the opaque-bytes path: format-agnostic by design (video
  * has no sane pure-JVM integer codec; its demuxer SHAPE is what a JNI
  * binding drops into). All outputs are exact integers.
  */
object MultimodalQueries {

  private def hexVal(c: String): String = s"(strpos('0123456789abcdef', $c) - 1)"

  /** Chain byte `idx` (an SQL expression) of the md5-chain hex string `hx`. */
  private def byteAt(idx: String): String =
    s"(${hexVal(s"substr(hx, 2*($idx)+1, 1)")} * 16 + ${hexVal(s"substr(hx, 2*($idx)+2, 1)")})"

  /** Shared oracle CTEs reconstructing the BMP fixtures' gray pixels from
    * the generation seed: dims from doc_id (w ∈ {3,5,8}, h ∈ {4,5}),
    * pixels = md5 chain bytes — the ground truth `bmpMedia` encoded into
    * the container and the Spark parser must recover from it.
    */
  private val bmpPixelsCte: String =
    s"""WITH src AS (
       |  SELECT doc_id, md5(text) || md5(text || 'a') || md5(text || 'b') AS hx,
       |         doc_id // 3 AS m
       |  FROM documents WHERE doc_id % 3 = 0),
       |dims AS (
       |  SELECT doc_id, hx, ([3,5,8])[CAST(m % 3 AS INTEGER) + 1] AS w,
       |         4 + CAST(m % 2 AS INTEGER) AS h
       |  FROM src),
       |px AS (
       |  SELECT doc_id, w, h, [${byteAt("i")} for i in range(0, w*h)] AS pt
       |  FROM dims)""".stripMargin

  val byteHistogram: QueryDef = {
    val histSql = (0 until 16).map { j =>
      val d = java.lang.Integer.toHexString(j)
      s"len(list_filter(range(0, 16), i -> substr(md5(text), i*2+1, 1) = '$d')) AS h$d"
    }.mkString(",\n      |  ")
    QueryDef(
      "mm_byte_histogram",
      s"""SELECT doc_id AS media_id,
         |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  16 AS n_bytes,
         |  ${hexVal("substr(md5(text), 1, 1)")} * 16 + ${hexVal("substr(md5(text), 2, 1)")} AS width,
         |  ${hexVal("substr(md5(text), 3, 1)")} * 16 + ${hexVal("substr(md5(text), 4, 1)")} AS height,
         |  CASE WHEN doc_id % 3 = 2 THEN 4 ELSE 0 END AS n_frames,
         |  $histSql
         |FROM documents""".stripMargin) { (s, dir) =>
      val media = Multimodal.syntheticMedia(s, Tables.documents(s, dir))
      val feats = Multimodal.features(media)
      val histCols = (0 until 16).map(j =>
        col("histogram")(j).as(s"h${java.lang.Integer.toHexString(j)}"))
      feats.toDF().select(
        Seq(col("media_id"), col("kind"), col("n_bytes"),
          col("width"), col("height"), col("n_frames")) ++ histCols: _*)
    }
  }

  /** Frame sampling through the REAL container (every 2nd frame of each
    * video): the payloads are genuine uncompressed AVIs (RIFF chunk tree,
    * strf geometry, stride-padded bottom-up '00db' DIB frames, JUNK on
    * even ids, trailing idx1), built by `Multimodal.aviMedia` from the
    * md5-chain seed. Spark demuxes + decodes the container; the oracle
    * recomputes each sampled frame's gray pixels straight from the chain
    * hex (frame f = chain bytes [w·h·f, w·h·(f+1))) — a demuxer that
    * misreads the header, stride, row order or chunk layout
    * hash-mismatches. Retires the round-5 stub: the video kind now
    * round-trips real bytes like image (BMP) and audio (WAV).
    */
  val frameSample: QueryDef = QueryDef(
    "mm_frame_sample",
    s"""WITH src AS (
       |  SELECT doc_id,
       |    md5(text) || md5(text || 'a') || md5(text || 'b')
       |      || md5(text || 'c') || md5(text || 'd') AS hx,
       |    doc_id // 3 AS m
       |  FROM documents WHERE doc_id % 3 = 2),
       |g AS (
       |  SELECT doc_id, hx,
       |    CASE CAST(m % 2 AS INTEGER) WHEN 0 THEN 6 ELSE 15 END AS wh,
       |    3 + CAST(m % 3 AS INTEGER) AS nf
       |  FROM src)
       |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
       |  substr(hx, CAST(wh*f*2 + 1 AS INTEGER), CAST(wh*2 AS INTEGER)) AS frame_hex,
       |  CAST(list_sum([${byteAt("i")} for i in range(wh*f, wh*(f+1))]) AS BIGINT) AS sum_px
       |FROM g, unnest(range(0, nf, 2)) AS t(f)""".stripMargin) { (s, dir) =>
    val media = Multimodal.aviMedia(s, Tables.documents(s, dir))
    Multimodal.aviFrameSample(media, step = 2).toDF()
  }

  /** Per-frame audio energy through the REAL container: each payload is a
    * RIFF/WAVE PCM file (JUNK chunk on even doc_ids — the chunk walk is
    * load-bearing); Spark decodes signed LITTLE-endian 16-bit samples from
    * the data chunk and frames them 4 at a time (7–12 samples → 2–3
    * frames, final frame short). The oracle recomputes every sample from
    * the md5-chain seed with the same LE reconstruction — byte-exact
    * agreement or nothing.
    */
  val audioEnergy: QueryDef = {
    def sample(i: String): String = {
      val v = s"(${byteAt(s"2*($i)")} + 256 * ${byteAt(s"2*($i)+1")})"
      s"(CASE WHEN $v >= 32768 THEN $v - 65536 ELSE $v END)"
    }
    QueryDef(
      "mm_audio_energy",
      s"""WITH src AS (
         |  SELECT doc_id, md5(text) || md5(text || 'a') AS hx,
         |         7 + CAST(doc_id % 6 AS INTEGER) AS n
         |  FROM documents WHERE doc_id % 3 = 1)
         |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
         |  CAST(list_sum([ ${sample("i")} * ${sample("i")}
         |                  for i in range(f*4, least(f*4+4, n)) ]) AS BIGINT) AS energy
         |FROM src, unnest(range(0, (n + 3) // 4)) AS t(f)""".stripMargin) { (s, dir) =>
      val media = Multimodal.wavMedia(s, Tables.documents(s, dir))
      Multimodal.wavFrameEnergy(media, samplesPerFrame = 4).toDF()
    }
  }

  /** Perceptual average-hash through the REAL container: aHash over the
    * BMP-decoded gray pixels (dims, stride and bottom-up row order all
    * read from the header — w ∈ {3,5,8} exercises the 4-byte row padding).
    * Integer-only thresholding (bit = pixel·n > Σpixels) keeps the code
    * bit-identical to the oracle's seed-side recomputation.
    */
  val avgHash: QueryDef = QueryDef(
    "mm_avg_hash",
    s"""$bmpPixelsCte,
       |t AS (SELECT doc_id, pt, len(pt) AS n, list_sum(pt) AS total FROM px)
       |SELECT doc_id AS media_id,
       |  CAST(list_sum([CASE WHEN pt[i+1]*n > total THEN (CAST(1 AS BIGINT) << i)
       |                      ELSE CAST(0 AS BIGINT) END for i in range(0, n)]) AS BIGINT) AS code,
       |  CAST(len(list_filter(range(0, n), i -> pt[i+1]*n > total)) AS INTEGER) AS n_set
       |FROM t""".stripMargin) { (s, dir) =>
    val media = Multimodal.bmpMedia(s, Tables.documents(s, dir))
    Multimodal.imageHash(media).toDF()
  }

  /** Decoded image metadata + exact pixel stats — the typed-metadata
    * surface: width/height from the BITMAPINFOHEADER, pixel stats from the
    * stride-walked rows. The oracle recomputes all of it from the seed.
    */
  val imageStats: QueryDef = QueryDef(
    "mm_image_stats",
    s"""$bmpPixelsCte
       |SELECT doc_id AS media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |  CAST(len(pt) AS INTEGER) AS n_px, CAST(list_sum(pt) AS BIGINT) AS sum_px,
       |  CAST(list_min(pt) AS INTEGER) AS min_px, CAST(list_max(pt) AS INTEGER) AS max_px
       |FROM px""".stripMargin) { (s, dir) =>
    val media = Multimodal.bmpMedia(s, Tables.documents(s, dir))
    Multimodal.imageStats(media).toDF()
  }

  /** Nearest-neighbor resize to the fixed 4×4 grid through the real
    * decoder (the normalize step before any perceptual fingerprint), with
    * a positional checksum Σ (i+1)·pixel_i as the compared value — exact
    * integers, order-sensitive, so a row-order or stride slip flips it.
    */
  val resizeGrid: QueryDef = QueryDef(
    "mm_resize",
    s"""$bmpPixelsCte
       |SELECT doc_id AS media_id, 4 AS out_w, 4 AS out_h,
       |  CAST(list_sum([ (i+1) * pt[ (i//4)*h//4*w + (i%4)*w//4 + 1 ]
       |                  for i in range(0, 16) ]) AS BIGINT) AS checksum
       |FROM px""".stripMargin) { (s, dir) =>
    val media = Multimodal.bmpMedia(s, Tables.documents(s, dir))
    Multimodal.resize(media, 4, 4).toDF().select(
      col("media_id"), col("w").as("out_w"), col("h").as("out_h"),
      expr("""CAST(aggregate(zip_with(pixels, sequence(1, size(pixels)),
             |(p, i) -> CAST(p AS BIGINT) * i), CAST(0 AS BIGINT),
             |(acc, x) -> acc + x) AS BIGINT)""".stripMargin.replace("\n", " "))
        .as("checksum"))
  }

  /** Media near-dedup by perceptual hash — the image-dedup pipeline's
    * pair stage, now over REAL BMP fixtures: aHash codes from the decoded
    * pixels (mm_avg_hash's fingerprint) compared at Hamming distance ≤ 1
    * via the XOR-multiprobe bucket join (ann_knn_join's blocking applied
    * to media): each code probes its own bucket plus the 40 one-bit-flip
    * buckets (codes carry ≤ 40 pixel bits), so every qualifying pair meets
    * in EXACTLY one equi-bucket — Σ bucket² work, never all-pairs, and no
    * pair is found twice (hamming-0 meets at mask 0, hamming-1 at the
    * single differing bit's mask). Output is the verified pair table
    * (id_a, id_b, hamming) — dd_components' label propagation collapses it
    * to duplicate clusters exactly as it does text near-dup pairs.
    *
    * Scale: one shuffle of the (media_id, code) projection on the bucket
    * key — 41 probe rows per media (bits+1, the multiprobe factor); the
    * verify predicate (bit_count of xor ≤ 1) is codegen'd integer ops.
    * A real deployment widens the code (pHash 64-bit) which SHRINKS
    * bucket occupancy; the plan is unchanged.
    */
  val mediaDedup: QueryDef = {
    val masks = 0L +: (0 until 40).map(1L << _)
    QueryDef(
      "dd_media_dedup",
      s"""$bmpPixelsCte,
         |t AS (SELECT doc_id, pt, len(pt) AS n, list_sum(pt) AS total FROM px),
         |codes AS (
         |  SELECT doc_id AS media_id,
         |    CAST(list_sum([CASE WHEN pt[i+1]*n > total THEN (CAST(1 AS BIGINT) << i)
         |                        ELSE CAST(0 AS BIGINT) END for i in range(0, n)]) AS BIGINT) AS code
         |  FROM t),
         |probed AS (
         |  SELECT media_id, code, unnest([xor(code, m) for m in [${masks.mkString(", ")}]]) AS bucket
         |  FROM codes)
         |SELECT a.media_id AS id_a, c.media_id AS id_b,
         |  CAST(bit_count(xor(a.code, c.code)) AS BIGINT) AS hamming
         |FROM probed a JOIN codes c
         |  ON a.bucket = c.code AND a.media_id < c.media_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.bmpMedia(s, Tables.documents(s, dir))
      val codes = Multimodal.imageHash(media).toDF().select("media_id", "code")
      val maskCol = array(masks.map(lit): _*)
      val probed = codes.select(col("media_id"), col("code"),
        explode(transform(maskCol, m => col("code").bitwiseXOR(m))).as("bucket"))
      probed.as("a")
        .join(codes.as("c"),
          col("a.bucket") === col("c.code") && col("a.media_id") < col("c.media_id"))
        .select(col("a.media_id").as("id_a"), col("c.media_id").as("id_b"),
          bit_count(col("a.code").bitwiseXOR(col("c.code"))).cast("long").as("hamming"))
    }
  }

  /** Image stats through the COMPRESSED container (r10 stretch ask #8):
    * the fixtures are real 8-bit grayscale PNGs — zlib IDAT split across
    * 16-byte chunks, rows filtered through all five spec filter types,
    * every chunk CRC-guarded — carrying the SAME seeded pixels as the BMP
    * fixtures, so the oracle is mm_image_stats' seed recomputation
    * verbatim. Spark must inflate (java.util.zip.Inflater), unfilter and
    * CRC-walk the container to agree; any slip hash-mismatches.
    */
  val pngStats: QueryDef = QueryDef(
    "mm_png_stats", imageStats.oracle.get) { (s, dir) =>
    val media = Multimodal.pngMedia(s, Tables.documents(s, dir))
    Multimodal.imageStats(media).toDF()
  }

  /** Perceptual aHash through the compressed container — mm_avg_hash's
    * fingerprint (same oracle) recovered from PNG bytes instead of BMP:
    * proves the dedup fingerprint path is container-independent.
    */
  val pngHash: QueryDef = QueryDef(
    "mm_png_hash", avgHash.oracle.get) { (s, dir) =>
    val media = Multimodal.pngMedia(s, Tables.documents(s, dir))
    Multimodal.imageHash(media).toDF()
  }

  /** Image stats through the LOSSY container (r11 stretch ask #8): the
    * fixtures are real baseline-sequential JFIF JPEGs (marker walk, DHT
    * Huffman tables carried in-file, DC prediction, zigzag, byte
    * stuffing, double-precision IDCT). Lossy codecs normally defeat seed
    * oracles; the fixtures are 8×8-BLOCK-FLAT (jpegMedia) so every block
    * decodes BIT-EXACT (its single DC coefficient is an exact integer
    * through the all-ones quant table) and the oracle recomputes the
    * stats from the block seed: n_px = 64·bw·bh, sum = 64·Σblocks,
    * min/max over the block bytes. A Huffman, zigzag, DC-prediction or
    * IDCT slip hash-mismatches.
    */
  /** Shared oracle prefix reconstructing the JPEG fixtures' BLOCK bytes
    * from the generation seed (jpegMedia: bw = 1 + m%3 blocks wide,
    * bh = 1 + m%2 high, block (i,j) uniformly chain byte i·bw + j).
    */
  private val jpegBlocksCte: String =
    s"""WITH src AS (
       |  SELECT doc_id, md5(text) || md5(text || 'a') || md5(text || 'b') AS hx,
       |         doc_id // 3 AS m
       |  FROM documents WHERE doc_id % 3 = 0),
       |dims AS (
       |  SELECT doc_id, hx, 1 + CAST(m % 3 AS INTEGER) AS bw,
       |         1 + CAST(m % 2 AS INTEGER) AS bh
       |  FROM src),
       |bx AS (
       |  SELECT doc_id, bw, bh, [${byteAt("i")} for i in range(0, bw*bh)] AS bt
       |  FROM dims)""".stripMargin

  val jpegStats: QueryDef = QueryDef(
    "mm_jpeg_stats",
    s"""$jpegBlocksCte
       |SELECT doc_id AS media_id, CAST(bw*8 AS INTEGER) AS width,
       |  CAST(bh*8 AS INTEGER) AS height, CAST(bw*bh*64 AS INTEGER) AS n_px,
       |  CAST(list_sum(bt)*64 AS BIGINT) AS sum_px,
       |  CAST(list_min(bt) AS INTEGER) AS min_px,
       |  CAST(list_max(bt) AS INTEGER) AS max_px
       |FROM bx""".stripMargin) { (s, dir) =>
    val media = Multimodal.jpegMedia(s, Tables.documents(s, dir))
    Multimodal.imageStats(media).toDF()
  }

  /** Perceptual aHash through the LOSSY container — mm_avg_hash's
    * fingerprint recovered from decoded JPEG pixels (the PNG-precedent
    * container-independence proof for the dedup path). The oracle expands
    * the block seed to the full pixel grid (pixel (r,c) = block byte
    * (r/8)·bw + c/8 — exact because the flat blocks decode bit-exact),
    * then mirrors aHashBits: the mean runs over ALL n pixels, the code
    * over the first min(n, 64) bits.
    */
  val jpegHash: QueryDef = QueryDef(
    "mm_jpeg_hash",
    s"""$jpegBlocksCte,
       |px AS (
       |  SELECT doc_id,
       |    [bt[((i // (bw*8)) // 8) * bw + ((i % (bw*8)) // 8) + 1]
       |     for i in range(0, bw*8*bh*8)] AS pt
       |  FROM bx),
       |t AS (SELECT doc_id, pt, len(pt) AS n, list_sum(pt) AS total FROM px)
       |SELECT doc_id AS media_id,
       |  CAST(list_sum([CASE WHEN pt[i+1]*n > total THEN
       |                   CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
       |                        ELSE CAST(CAST(1 AS BIGINT) << i AS HUGEINT) END
       |                 ELSE CAST(0 AS HUGEINT) END
       |                 for i in range(0, least(n, 64))]) AS BIGINT) AS code,
       |  CAST(len(list_filter(range(0, least(n, 64)), i -> pt[i+1]*n > total)) AS INTEGER) AS n_set
       |FROM t""".stripMargin) { (s, dir) =>
    val media = Multimodal.jpegMedia(s, Tables.documents(s, dir))
    Multimodal.imageHash(media).toDF()
  }

  /** Per-plane stats through the COLOR 4:2:0 container (r13 stretch,
    * E134): the fixtures are real interleaved YCbCr JPEGs with
    * 8×8-block-flat planes (jpegColorMedia), so each plane decodes
    * BIT-EXACT (every block's DC is an exact integer through the all-ones
    * quant tables — the E127 argument applied per component) and the
    * oracle recomputes each plane's stats straight from the md5-chain
    * block seed: luma = 4·mw·mh blocks of 64 px, each chroma plane =
    * mw·mh blocks of 64 px at the stored quarter resolution. A sampling-
    * factor, MCU-interleave, per-component-DC-prediction or chroma-quant
    * slip hash-mismatches.
    */
  private val jpegColorBlocksCte: String =
    s"""WITH src AS (
       |  SELECT doc_id, md5(text) || md5(text || 'a') || md5(text || 'b') AS hx,
       |         doc_id // 3 AS m
       |  FROM documents WHERE doc_id % 3 = 1),
       |dims AS (
       |  SELECT doc_id, hx, 1 + CAST(m % 2 AS INTEGER) AS mw,
       |         1 + CAST(m % 3 AS INTEGER) AS mh
       |  FROM src),
       |bx AS (
       |  SELECT doc_id, mw, mh,
       |    [${byteAt("i")} for i in range(0, 4*mw*mh)] AS yb,
       |    [${byteAt("4*mw*mh + i")} for i in range(0, mw*mh)] AS cbb,
       |    [${byteAt("5*mw*mh + i")} for i in range(0, mw*mh)] AS crb
       |  FROM dims)""".stripMargin

  val jpegColorStats: QueryDef = QueryDef(
    "mm_jpeg_color_stats",
    s"""$jpegColorBlocksCte
       |SELECT doc_id AS media_id, CAST(mw*16 AS INTEGER) AS width,
       |  CAST(mh*16 AS INTEGER) AS height,
       |  CAST(list_sum(yb)*64 AS BIGINT) AS sum_y,
       |  CAST(list_min(yb) AS INTEGER) AS min_y,
       |  CAST(list_max(yb) AS INTEGER) AS max_y,
       |  CAST(list_sum(cbb)*64 AS BIGINT) AS sum_cb,
       |  CAST(list_min(cbb) AS INTEGER) AS min_cb,
       |  CAST(list_max(cbb) AS INTEGER) AS max_cb,
       |  CAST(list_sum(crb)*64 AS BIGINT) AS sum_cr,
       |  CAST(list_min(crb) AS INTEGER) AS min_cr,
       |  CAST(list_max(crb) AS INTEGER) AS max_cr
       |FROM bx""".stripMargin) { (s, dir) =>
    val media = Multimodal.jpegColorMedia(s, Tables.documents(s, dir))
    Multimodal.imageColorStats(media).toDF()
  }

  /** Per-channel stats through the TRUECOLOR PNG container (r14, the r13
    * verdict ask #5): real color-type-2 PNGs with ARBITRARY per-pixel
    * channel bytes — lossless, so no block-flat constraint (the advantage
    * over the JPEG color tier) — rows filtered through all five types
    * with the bpp-3 left/upper-left rule, IDAT split, CRC-guarded. The
    * oracle recomputes each channel's stats straight from the md5-chain
    * planes (R then G then B); an interleave, bpp-filter or channel-order
    * slip hash-mismatches.
    */
  val pngColorStats: QueryDef = QueryDef(
    "mm_png_color_stats",
    s"""WITH src AS (
       |  SELECT doc_id,
       |    md5(text) || md5(text || 'a') || md5(text || 'b') || md5(text || 'c')
       |      || md5(text || 'd') || md5(text || 'e') || md5(text || 'f')
       |      || md5(text || 'g') AS hx,
       |    doc_id // 3 AS m
       |  FROM documents WHERE doc_id % 3 = 1),
       |dims AS (
       |  SELECT doc_id, hx, ([3,5,8])[CAST(m % 3 AS INTEGER) + 1] AS w,
       |         4 + CAST(m % 2 AS INTEGER) AS h
       |  FROM src),
       |ch AS (
       |  SELECT doc_id, w, h,
       |    [${byteAt("i")} for i in range(0, w*h)] AS rb,
       |    [${byteAt("w*h + i")} for i in range(0, w*h)] AS gb,
       |    [${byteAt("2*w*h + i")} for i in range(0, w*h)] AS bb
       |  FROM dims)
       |SELECT doc_id AS media_id, CAST(w AS INTEGER) AS width,
       |  CAST(h AS INTEGER) AS height, CAST(w*h AS INTEGER) AS n_px,
       |  CAST(list_sum(rb) AS BIGINT) AS sum_r,
       |  CAST(list_min(rb) AS INTEGER) AS min_r,
       |  CAST(list_max(rb) AS INTEGER) AS max_r,
       |  CAST(list_sum(gb) AS BIGINT) AS sum_g,
       |  CAST(list_min(gb) AS INTEGER) AS min_g,
       |  CAST(list_max(gb) AS INTEGER) AS max_g,
       |  CAST(list_sum(bb) AS BIGINT) AS sum_b,
       |  CAST(list_min(bb) AS INTEGER) AS min_b,
       |  CAST(list_max(bb) AS INTEGER) AS max_b
       |FROM ch""".stripMargin) { (s, dir) =>
    val media = Multimodal.pngColorMedia(s, Tables.documents(s, dir))
    Multimodal.imageRgbStats(media).toDF()
  }

  /** Perceptual aHash through BOTH new color paths — mm_avg_hash's
    * fingerprint (same oracle, same gray seeds) recovered from truecolor
    * R=G=B PNGs on even m and gray-triplet PALETTE PNGs on odd m: the
    * container-independence proof now spans BMP, gray PNG, gray JPEG,
    * truecolor PNG and palette PNG.
    */
  val pngColorHash: QueryDef = QueryDef(
    "mm_png_color_hash", avgHash.oracle.get) { (s, dir) =>
    val media = Multimodal.pngColorGrayMedia(s, Tables.documents(s, dir))
    Multimodal.imageColorHash(media).toDF()
  }

  /** Per-frame energy through the COMPRESSED audio container (r14
    * stretch, E144): real FLAC streams — FIXED-predictor Rice-coded
    * residuals, CRC-8 per frame header, CRC-16 per frame, STREAMINFO MD5
    * over the decoded PCM — carrying md5-chain samples (the wavMedia
    * rule, 33–48 samples at block size 16 → multi-frame with a short
    * last block). FLAC is lossless, so the oracle recomputes the energy
    * straight from the chain; a predictor, Rice, zigzag, CRC or
    * frame-walk slip hash-mismatches.
    */
  val flacEnergy: QueryDef = {
    def sample(i: String): String = {
      val v = s"(${byteAt(s"2*($i)")} + 256 * ${byteAt(s"2*($i)+1")})"
      s"(CASE WHEN $v >= 32768 THEN $v - 65536 ELSE $v END)"
    }
    QueryDef(
      "mm_flac_energy",
      s"""WITH src AS (
         |  SELECT doc_id,
         |    md5(text) || md5(text || 'a') || md5(text || 'b') || md5(text || 'c')
         |      || md5(text || 'd') || md5(text || 'e') AS hx,
         |    33 + CAST((doc_id // 3) % 16 AS INTEGER) AS n
         |  FROM documents WHERE doc_id % 3 = 1)
         |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
         |  CAST(list_sum([ ${sample("i")} * ${sample("i")}
         |                  for i in range(f*4, least(f*4+4, n)) ]) AS BIGINT) AS energy
         |FROM src, unnest(range(0, (n + 3) // 4)) AS t(f)""".stripMargin) { (s, dir) =>
      val media = Multimodal.flacMedia(s, Tables.documents(s, dir))
      Multimodal.flacFrameEnergy(media, samplesPerFrame = 4).toDF()
    }
  }

  /** Per-frame energy through 24-BIT FLAC (r15 stretch): full-range
    * ±2^23 samples from 3-byte-LE chain triples — the deep-audio path
    * (STREAMINFO bps, frame sample-size code 6, wider subframes, 3-byte
    * PCM MD5) hash-exact against the chain-recomputed oracle.
    */
  val flac24Energy: QueryDef = {
    def sample(i: String): String = {
      val v = s"(${byteAt(s"3*($i)")} + 256 * ${byteAt(s"3*($i)+1")} + 65536 * ${byteAt(s"3*($i)+2")})"
      s"(CASE WHEN $v >= 8388608 THEN $v - 16777216 ELSE $v END)"
    }
    QueryDef(
      "mm_flac24_energy",
      s"""WITH src AS (
         |  SELECT doc_id,
         |    md5(text) || md5(text || 'a') || md5(text || 'b') || md5(text || 'c')
         |      || md5(text || 'd') || md5(text || 'e') || md5(text || 'f')
         |      || md5(text || 'g') || md5(text || 'h') AS hx,
         |    33 + CAST((doc_id // 3) % 16 AS INTEGER) AS n
         |  FROM documents WHERE doc_id % 3 = 2)
         |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
         |  CAST(list_sum([ ${sample("i")} * ${sample("i")}
         |                  for i in range(f*4, least(f*4+4, n)) ]) AS BIGINT) AS energy
         |FROM src, unnest(range(0, (n + 3) // 4)) AS t(f)""".stripMargin) { (s, dir) =>
      val media = Multimodal.flac24Media(s, Tables.documents(s, dir))
      Multimodal.flac24FrameEnergy(media, samplesPerFrame = 4).toDF()
    }
  }

  /** RANDOM-ACCESS frame energy through the FLAC SEEKTABLE (r15): each
    * stream carries a type-3 seek table (every 1+m%2 frames — sparse on
    * odd m, so the path lands on a PRECEDING point and walks forward);
    * the query decodes ONLY the target frame k = m%3 through
    * `decodeFlacFrameAt` — sampling long audio without a full decode,
    * the 100-TB access pattern. Per-frame CRCs verify everything read;
    * the oracle recomputes the frame's exact energy from the chain.
    */
  val flacSeekEnergy: QueryDef = {
    def sample(i: String): String = {
      val v = s"(${byteAt(s"2*($i)")} + 256 * ${byteAt(s"2*($i)+1")})"
      s"(CASE WHEN $v >= 32768 THEN $v - 65536 ELSE $v END)"
    }
    QueryDef(
      "mm_flac_seek",
      s"""WITH src AS (
         |  SELECT doc_id,
         |    md5(text) || md5(text || 'a') || md5(text || 'b') || md5(text || 'c')
         |      || md5(text || 'd') || md5(text || 'e') AS hx,
         |    33 + CAST((doc_id // 3) % 16 AS INTEGER) AS n,
         |    CAST((doc_id // 3) % 3 AS INTEGER) AS k
         |  FROM documents WHERE doc_id % 3 = 1)
         |SELECT doc_id AS media_id, k AS frame_idx,
         |  CAST(16*k AS BIGINT) AS first_sample,
         |  CAST(least(16*k + 16, n) - 16*k AS INTEGER) AS n_samples,
         |  CAST(list_sum([ ${sample("i")} * ${sample("i")}
         |                  for i in range(16*k, least(16*k + 16, n)) ]) AS BIGINT) AS energy
         |FROM src""".stripMargin) { (s, dir) =>
      val media = Multimodal.flacSeekMedia(s, Tables.documents(s, dir))
      Multimodal.flacSeekFrameEnergy(media).toDF()
    }
  }

  /** Per-frame per-CHANNEL energy through STEREO FLAC (r14, E145): the
    * fixtures pair a smooth quadratic LEFT with a RIGHT that alternates
    * between chain noise (even m — independent channels) and
    * left-minus-delta (odd m — a side decorrelation wins), so every
    * stream drives the per-frame channel-assignment choice and the
    * decoder's inverse reconstruction (left/side, right/side, mid/side
    * carry the side at 17 bits). Lossless, so the oracle recomputes both
    * channels' energies straight from the (i, m) formula and the chain.
    */
  val flacStereoEnergy: QueryDef = {
    def chainByte(i: String): String = byteAt(i)
    def rawSample(i: String): String = {
      val v = s"(${byteAt(s"2*($i)")} + 256 * ${byteAt(s"2*($i)+1")})"
      s"(CASE WHEN $v >= 32768 THEN $v - 65536 ELSE $v END)"
    }
    val lval = "((((i + 2) * (i + 3 + CAST(m % 7 AS INTEGER))) % 3001) - 1500)"
    val rval = s"(CASE WHEN m % 2 = 0 THEN ${rawSample("i")} ELSE $lval - (${chainByte("i")} - 128) END)"
    QueryDef(
      "mm_flac_stereo_energy",
      s"""WITH src AS (
         |  SELECT doc_id,
         |    md5(text) || md5(text || 'a') || md5(text || 'b') || md5(text || 'c')
         |      || md5(text || 'd') || md5(text || 'e') AS hx,
         |    doc_id // 3 AS m,
         |    33 + CAST((doc_id // 3) % 16 AS INTEGER) AS n
         |  FROM documents WHERE doc_id % 3 = 2)
         |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
         |  CAST(list_sum([ $lval * $lval
         |                  for i in range(f*4, least(f*4+4, n)) ]) AS BIGINT) AS energy_l,
         |  CAST(list_sum([ $rval * $rval
         |                  for i in range(f*4, least(f*4+4, n)) ]) AS BIGINT) AS energy_r
         |FROM src, unnest(range(0, (n + 3) // 4)) AS t(f)""".stripMargin) { (s, dir) =>
      val media = Multimodal.flacStereoMedia(s, Tables.documents(s, dir))
      Multimodal.flacStereoFrameEnergy(media, samplesPerFrame = 4).toDF()
    }
  }

  /** Per-channel stats INCLUDING ALPHA through the RGBA PNG container
    * (r14, E146): color type 6 with 4-byte pixels under the bpp filter
    * rule; odd m ships Adam7-INTERLACED, so the seven-pass geometry sits
    * on the hash-exact oracle path (an interlace slip scrambles pixel
    * positions and every stat after the first). The oracle recomputes
    * all four channels straight from the md5-chain planes.
    */
  val pngAlphaStats: QueryDef = QueryDef(
    "mm_png_alpha_stats",
    s"""WITH src AS (
       |  SELECT doc_id,
       |    md5(text) || md5(text || 'a') || md5(text || 'b') || md5(text || 'c')
       |      || md5(text || 'd') || md5(text || 'e') || md5(text || 'f')
       |      || md5(text || 'g') || md5(text || 'h') || md5(text || 'i') AS hx,
       |    doc_id // 3 AS m
       |  FROM documents WHERE doc_id % 3 = 0),
       |dims AS (
       |  SELECT doc_id, hx, ([3,5,8])[CAST(m % 3 AS INTEGER) + 1] AS w,
       |         4 + CAST(m % 2 AS INTEGER) AS h
       |  FROM src),
       |ch AS (
       |  SELECT doc_id, w, h,
       |    [${byteAt("i")} for i in range(0, w*h)] AS rb,
       |    [${byteAt("w*h + i")} for i in range(0, w*h)] AS gb,
       |    [${byteAt("2*w*h + i")} for i in range(0, w*h)] AS bb,
       |    [${byteAt("3*w*h + i")} for i in range(0, w*h)] AS ab
       |  FROM dims)
       |SELECT doc_id AS media_id, CAST(w AS INTEGER) AS width,
       |  CAST(h AS INTEGER) AS height, CAST(w*h AS INTEGER) AS n_px,
       |  CAST(list_sum(rb) AS BIGINT) AS sum_r,
       |  CAST(list_min(rb) AS INTEGER) AS min_r,
       |  CAST(list_max(rb) AS INTEGER) AS max_r,
       |  CAST(list_sum(gb) AS BIGINT) AS sum_g,
       |  CAST(list_min(gb) AS INTEGER) AS min_g,
       |  CAST(list_max(gb) AS INTEGER) AS max_g,
       |  CAST(list_sum(bb) AS BIGINT) AS sum_b,
       |  CAST(list_min(bb) AS INTEGER) AS min_b,
       |  CAST(list_max(bb) AS INTEGER) AS max_b,
       |  CAST(list_sum(ab) AS BIGINT) AS sum_a,
       |  CAST(list_min(ab) AS INTEGER) AS min_a,
       |  CAST(list_max(ab) AS INTEGER) AS max_a
       |FROM ch""".stripMargin) { (s, dir) =>
    val media = Multimodal.pngAlphaMedia(s, Tables.documents(s, dir))
    Multimodal.imageRgbaStats(media).toDF()
  }

  /** Shared oracle CTE for the MJPEG fixtures (r15, E147): per doc, the
    * per-FRAME block bytes — frame f's bw·bh blocks are the chain slice
    * [f·bw·bh, (f+1)·bw·bh). Ground truth is the seed; Spark must recover
    * it through the RIFF walk AND a full baseline-JPEG entropy decode per
    * frame (block-flat planes decode bit-exact — the E127 argument).
    */
  private val mjpegFrameBlocksCte: String =
    s"""WITH src AS (
       |  SELECT doc_id, md5(text) || md5(text || 'a') AS hx, doc_id // 3 AS m
       |  FROM documents WHERE doc_id % 3 = 2),
       |dims AS (
       |  SELECT doc_id, hx, 1 + CAST(m % 2 AS INTEGER) AS bw,
       |         1 + CAST(m % 3 AS INTEGER) AS bh,
       |         2 + CAST(m % 2 AS INTEGER) AS nf
       |  FROM src),
       |fb AS (
       |  SELECT doc_id, bw, bh, CAST(f AS INTEGER) AS f,
       |    [${byteAt("f*bw*bh + i")} for i in range(0, bw*bh)] AS bt
       |  FROM dims, unnest(range(0, nf)) AS t(f))""".stripMargin

  /** Per-frame stats through COMPRESSED video (r15, the r14 verdict ask
    * #4): each payload is an MJPEG AVI — 'MJPG' handler/biCompression,
    * every '00dc' chunk one complete baseline JPEG — so the chunk walk,
    * the per-frame SOI/tables/entropy decode, and the dims cross-check
    * are all load-bearing on every fixture. Block-flat frames decode
    * bit-exact; the oracle recomputes each frame's stats from the chain.
    */
  val mjpegStats: QueryDef = QueryDef(
    "mm_mjpeg_stats",
    s"""$mjpegFrameBlocksCte
       |SELECT doc_id AS media_id, f AS frame_idx,
       |  CAST(bw*8 AS INTEGER) AS width, CAST(bh*8 AS INTEGER) AS height,
       |  CAST(list_sum(bt)*64 AS BIGINT) AS sum_px,
       |  CAST(list_min(bt) AS INTEGER) AS min_px,
       |  CAST(list_max(bt) AS INTEGER) AS max_px
       |FROM fb""".stripMargin) { (s, dir) =>
    val media = Multimodal.mjpegMedia(s, Tables.documents(s, dir))
    Multimodal.mjpegFrameStats(media).toDF()
  }

  /** Per-frame perceptual aHash through the MJPEG container — the
    * container-independence fingerprint extended to video: the oracle
    * expands each frame's block seed to the full pixel grid and mirrors
    * aHashBits (mean over ALL n pixels, code over the first min(n, 64)).
    */
  val mjpegHash: QueryDef = QueryDef(
    "mm_mjpeg_hash",
    s"""$mjpegFrameBlocksCte,
       |px AS (
       |  SELECT doc_id, f,
       |    [bt[((i // (bw*8)) // 8) * bw + ((i % (bw*8)) // 8) + 1]
       |     for i in range(0, bw*8*bh*8)] AS pt
       |  FROM fb),
       |t AS (SELECT doc_id, f, pt, len(pt) AS n, list_sum(pt) AS total FROM px)
       |SELECT doc_id AS media_id, f AS frame_idx,
       |  CAST(list_sum([CASE WHEN pt[i+1]*n > total THEN
       |                   CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
       |                        ELSE CAST(CAST(1 AS BIGINT) << i AS HUGEINT) END
       |                 ELSE CAST(0 AS HUGEINT) END
       |                 for i in range(0, least(n, 64))]) AS BIGINT) AS code,
       |  CAST(len(list_filter(range(0, least(n, 64)), i -> pt[i+1]*n > total)) AS INTEGER) AS n_set
       |FROM t""".stripMargin) { (s, dir) =>
    val media = Multimodal.mjpegMedia(s, Tables.documents(s, dir))
    Multimodal.mjpegFrameHash(media).toDF()
  }

  /** 16-bit grayscale PNG stats (r15, the r14 verdict's codec-depth
    * corner): full-range 0–65535 samples from big-endian byte pairs,
    * interlaced on odd m — the filter core's bpp rule at 2-byte samples,
    * hash-exact against the chain-recomputed oracle.
    */
  val png16Stats: QueryDef = {
    def sample16(i: String): String =
      s"(${byteAt(s"2*($i)")} * 256 + ${byteAt(s"2*($i)+1")})"
    QueryDef(
      "mm_png16_stats",
      s"""WITH src AS (
         |  SELECT doc_id,
         |    md5(text) || md5(text || 'a') || md5(text || 'b') || md5(text || 'c')
         |      || md5(text || 'd') AS hx,
         |    doc_id // 3 AS m
         |  FROM documents WHERE doc_id % 3 = 0),
         |dims AS (
         |  SELECT doc_id, hx, ([3,5,8])[CAST(m % 3 AS INTEGER) + 1] AS w,
         |         4 + CAST(m % 2 AS INTEGER) AS h
         |  FROM src),
         |px AS (
         |  SELECT doc_id, w, h, [${sample16("i")} for i in range(0, w*h)] AS pt
         |  FROM dims)
         |SELECT doc_id AS media_id, CAST(w AS INTEGER) AS width,
         |  CAST(h AS INTEGER) AS height, CAST(w*h AS INTEGER) AS n_px,
         |  CAST(list_sum(pt) AS BIGINT) AS sum_px,
         |  CAST(list_min(pt) AS INTEGER) AS min_px,
         |  CAST(list_max(pt) AS INTEGER) AS max_px
         |FROM px""".stripMargin) { (s, dir) =>
      val media = Multimodal.png16Media(s, Tables.documents(s, dir))
      Multimodal.image16Stats(media).toDF()
    }
  }

  /** Per-plane stats through the 4:4:4 color container (r15, the
    * unsubsampled-chroma corner): all three planes full-resolution, MCU =
    * one block of each — a sampling-factor or interleave slip against the
    * 4:2:0 machinery hash-mismatches. Same oracle scheme as
    * mm_jpeg_color_stats with every plane at bw·bh blocks.
    */
  val jpeg444Stats: QueryDef = QueryDef(
    "mm_jpeg444_stats",
    s"""WITH src AS (
       |  SELECT doc_id, md5(text) || md5(text || 'a') || md5(text || 'b') AS hx,
       |         doc_id // 3 AS m
       |  FROM documents WHERE doc_id % 3 = 0),
       |dims AS (
       |  SELECT doc_id, hx, 1 + CAST(m % 3 AS INTEGER) AS bw,
       |         1 + CAST(m % 2 AS INTEGER) AS bh
       |  FROM src),
       |bx AS (
       |  SELECT doc_id, bw, bh,
       |    [${byteAt("i")} for i in range(0, bw*bh)] AS yb,
       |    [${byteAt("bw*bh + i")} for i in range(0, bw*bh)] AS cbb,
       |    [${byteAt("2*bw*bh + i")} for i in range(0, bw*bh)] AS crb
       |  FROM dims)
       |SELECT doc_id AS media_id, CAST(bw*8 AS INTEGER) AS width,
       |  CAST(bh*8 AS INTEGER) AS height,
       |  CAST(list_sum(yb)*64 AS BIGINT) AS sum_y,
       |  CAST(list_min(yb) AS INTEGER) AS min_y,
       |  CAST(list_max(yb) AS INTEGER) AS max_y,
       |  CAST(list_sum(cbb)*64 AS BIGINT) AS sum_cb,
       |  CAST(list_min(cbb) AS INTEGER) AS min_cb,
       |  CAST(list_max(cbb) AS INTEGER) AS max_cb,
       |  CAST(list_sum(crb)*64 AS BIGINT) AS sum_cr,
       |  CAST(list_min(crb) AS INTEGER) AS min_cr,
       |  CAST(list_max(crb) AS INTEGER) AS max_cr
       |FROM bx""".stripMargin) { (s, dir) =>
    val media = Multimodal.jpeg444Media(s, Tables.documents(s, dir))
    Multimodal.image444Stats(media).toDF()
  }

  /** Shared oracle CTEs for the audio-fingerprint fixtures (r16, E157):
    * `recs` reconstructs every fingerprint record — the primaries plus the
    * m ≡ 0 mod 5 other-container TWINS (media_id + 1e6, IDENTICAL
    * samples: the same recording ripped to both WAV and FLAC) — and
    * `codes` recomputes the 56-bit sign-of-band-energy-delta code from
    * the seed: 8 time segments × 8 sub-bands, exact integer boundary
    * arithmetic, E(k,b) = Σ s², bit k·8+b iff E(k+1,b) > E(k,b). The
    * Spark side must recover the SAME code from real container BYTES
    * (sniffing WAV vs FLAC per record), so a decode, framing or bit-order
    * slip hash-mismatches. COALESCE(…, 0) pins the empty-band convention
    * (DuckDB's list_sum([]) is NULL; the engine's empty Σ is 0).
    */
  private val audioFpCodesCte: String = {
    val hx = (Seq("md5(text)") ++ ('a' to 'n').map(c => s"md5(text || '$c')"))
      .mkString(" || ")
    def sample(i: String): String = {
      val v = s"(${byteAt(s"2*($i)")} + 256 * ${byteAt(s"2*($i)+1")})"
      s"(CASE WHEN $v >= 32768 THEN $v - 65536 ELSE $v END)"
    }
    s"""WITH src AS (
       |  SELECT doc_id, $hx AS hx, doc_id // 3 AS m,
       |         72 + CAST((doc_id // 3) % 5 AS INTEGER) * 12 AS n
       |  FROM documents WHERE doc_id % 3 = 1),
       |recs AS (
       |  SELECT doc_id AS media_id, hx, n FROM src
       |  UNION ALL
       |  SELECT doc_id + 1000000, hx, n FROM src WHERE m % 5 = 0),
       |e AS (
       |  SELECT media_id, k, b,
       |    CAST(COALESCE(list_sum(
       |      [ ${sample("i")} * ${sample("i")}
       |        for i in range((k*n)//8 + (b*(((k+1)*n)//8 - (k*n)//8))//8,
       |                       (k*n)//8 + ((b+1)*(((k+1)*n)//8 - (k*n)//8))//8) ]
       |    ), 0) AS BIGINT) AS en
       |  FROM recs, unnest(range(0, 8)) t1(k), unnest(range(0, 8)) t2(b)),
       |bits AS (
       |  SELECT a.media_id, CAST(a.k*8 + a.b AS INTEGER) AS idx
       |  FROM e a JOIN e c ON a.media_id = c.media_id AND a.b = c.b
       |                   AND c.k = a.k + 1
       |  WHERE a.k < 7 AND c.en > a.en),
       |codes AS (
       |  SELECT r.media_id,
       |    CAST(COALESCE(SUM(CAST(1 AS BIGINT) << b.idx), 0) AS BIGINT) AS code,
       |    CAST(COUNT(b.idx) AS INTEGER) AS n_set
       |  FROM recs r LEFT JOIN bits b ON r.media_id = b.media_id
       |  GROUP BY r.media_id)""".stripMargin
  }

  /** Audio perceptual fingerprint through BOTH real containers (r16,
    * E157 — the r15 verdict's missing #4): Chromaprint's integer core in
    * the aHash mold over container-sniffed PCM. See
    * [[Multimodal.audioFpBits]] for the geometry and why delta signs (not
    * raw energies) are the perceptual identity.
    */
  val audioHash: QueryDef = QueryDef(
    "mm_audio_hash",
    s"""$audioFpCodesCte
       |SELECT media_id, code, n_set FROM codes""".stripMargin) { (s, dir) =>
    val media = Multimodal.audioFpMedia(s, Tables.documents(s, dir))
    Multimodal.audioFingerprint(media).toDF()
  }

  /** Audio near-dedup — dd_media_dedup's pair stage riding the audio
    * fingerprint (r16, E158): 57 XOR probes per clip (the 56 bits + self),
    * every Hamming ≤ 1 pair meets in exactly one equi-bucket. The pairs
    * this MUST find are the other-container twins (same recording as WAV
    * and FLAC → identical code → Hamming 0): finding them through two
    * different entropy layers is the proof the code is a property of the
    * audio. Σ bucket² work, never all-pairs; scale notes at
    * dd_media_dedup apply verbatim.
    */
  val audioDedup: QueryDef = {
    val masks = 0L +: (0 until 56).map(1L << _)
    QueryDef(
      "dd_audio_dedup",
      s"""$audioFpCodesCte,
         |probed AS (
         |  SELECT media_id, code,
         |    unnest([xor(code, m) for m in [${masks.mkString(", ")}]]) AS bucket
         |  FROM codes)
         |SELECT a.media_id AS id_a, c.media_id AS id_b,
         |  CAST(bit_count(xor(a.code, c.code)) AS BIGINT) AS hamming
         |FROM probed a JOIN codes c
         |  ON a.bucket = c.code AND a.media_id < c.media_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.audioFpMedia(s, Tables.documents(s, dir))
      // the code table feeds BOTH sides of the self-join: checkpoint it so
      // the fixture encode + container decode runs ONCE, not twice (it is
      // |audio docs| rows of (id, code) — trivially materializable)
      val codes = Multimodal.audioFingerprint(media).toDF()
        .select("media_id", "code").localCheckpoint(true)
      val maskCol = array(masks.map(lit): _*)
      val probed = codes.select(col("media_id"), col("code"),
        explode(transform(maskCol, m => col("code").bitwiseXOR(m))).as("bucket"))
      probed.as("a")
        .join(codes.as("c"),
          col("a.bucket") === col("c.code") && col("a.media_id") < col("c.media_id"))
        .select(col("a.media_id").as("id_a"), col("c.media_id").as("id_b"),
          bit_count(col("a.code").bitwiseXOR(col("c.code"))).cast("long").as("hamming"))
    }
  }

  /** Per-plane stats through the 4:2:2 container (r16 — the last cell of
    * the sampling matrix next to 4:2:0 and 4:4:4): luma 2·bwM×bh blocks,
    * chroma bwM×bh at HALF WIDTH, MCU = two Y blocks + Cb + Cr. Same
    * oracle scheme as the other JPEG tiers: block-flat planes from the
    * chain, stats recomputed seed-side.
    */
  val jpeg422Stats: QueryDef = QueryDef(
    "mm_jpeg422_stats",
    s"""WITH src AS (
       |  SELECT doc_id, md5(text) || md5(text || 'a') AS hx,
       |         doc_id // 3 AS m
       |  FROM documents WHERE doc_id % 3 = 0),
       |dims AS (
       |  SELECT doc_id, hx, 1 + CAST(m % 2 AS INTEGER) AS bwm,
       |         1 + CAST(m % 2 AS INTEGER) AS bh
       |  FROM src),
       |bx AS (
       |  SELECT doc_id, bwm, bh,
       |    [${byteAt("i")} for i in range(0, 2*bwm*bh)] AS yb,
       |    [${byteAt("2*bwm*bh + i")} for i in range(0, bwm*bh)] AS cbb,
       |    [${byteAt("3*bwm*bh + i")} for i in range(0, bwm*bh)] AS crb
       |  FROM dims)
       |SELECT doc_id AS media_id, CAST(bwm*16 AS INTEGER) AS width,
       |  CAST(bh*8 AS INTEGER) AS height,
       |  CAST(list_sum(yb)*64 AS BIGINT) AS sum_y,
       |  CAST(list_min(yb) AS INTEGER) AS min_y,
       |  CAST(list_max(yb) AS INTEGER) AS max_y,
       |  CAST(list_sum(cbb)*64 AS BIGINT) AS sum_cb,
       |  CAST(list_min(cbb) AS INTEGER) AS min_cb,
       |  CAST(list_max(cbb) AS INTEGER) AS max_cb,
       |  CAST(list_sum(crb)*64 AS BIGINT) AS sum_cr,
       |  CAST(list_min(crb) AS INTEGER) AS min_cr,
       |  CAST(list_max(crb) AS INTEGER) AS max_cr
       |FROM bx""".stripMargin) { (s, dir) =>
    val media = Multimodal.jpeg422Media(s, Tables.documents(s, dir))
    Multimodal.image422Stats(media).toDF()
  }

  /** The maintained MEDIA FINGERPRINT table (r16, E159 — the r15
    * verdict's missing-tier #5): image aHash codes ∪ audio delta-sign
    * codes persisted as a MergeSink keyed (and digest-clustered) on
    * media_id — the lake artifact an incremental media-dedup probes
    * instead of re-fingerprinting the corpus per batch (dd_incr_lsh_lake's
    * posting-table contract applied to media). Its purge story is what
    * E159 closes: [[Purge.purgeDocuments]] row-deletes a dropped doc's
    * fingerprint rows — through the caller's doc→media mapping, which is
    * where multi-rip records (the audio twins) are named — so the code
    * table absorbs GDPR drops like every other index family:
    * content-idempotent, file-pruned, tombstone-gated.
    */
  private[graft] def ensureMediaFpSink(s: org.apache.spark.sql.SparkSession,
                                       dir: String): String =
    PlanCache.memo(dir, "media_fp_sink") {
      val sink = s"${Staging.freshBase("graft_mfp", dir).getPath}/sink"
      val img = Multimodal.imageHash(Multimodal.bmpMedia(s, Tables.documents(s, dir)))
        .toDF().select(col("media_id"), lit("image").as("kind"), col("code"))
      val aud = Multimodal.audioFingerprint(
        Multimodal.audioFpMedia(s, Tables.documents(s, dir)))
        .toDF().select(col("media_id"), lit("audio").as("kind"), col("code"))
      graft.ingest.MergeSink.merge(s, sink, img.unionByName(aud),
        Seq("media_id"), Seq(col("media_id")), targetFileRows = 64)
      sink
    }

  val defs: Seq[QueryDef] = Seq(byteHistogram, frameSample, audioEnergy, avgHash,
    imageStats, resizeGrid, mediaDedup, pngStats, pngHash, jpegStats, jpegHash,
    jpegColorStats, pngColorStats, pngColorHash, flacEnergy, flacStereoEnergy,
    pngAlphaStats, mjpegStats, mjpegHash, png16Stats, flac24Energy, jpeg444Stats,
    flacSeekEnergy, audioHash, audioDedup, jpeg422Stats)
}
