package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sources.{Aiff, Avi, Flac, Jpeg, MediaCodec, Mp4, Png, Tga, Tiff}

/** Multimodal-column operators for the training-data pipeline: media
  * payloads ride as opaque `binary` columns next to a typed metadata
  * struct; decode / feature-extraction runs batch-at-a-time inside
  * `mapPartitions` (the Scala analogue of an Arrow-batched UDF — one
  * decoder instantiation per partition, not per row).
  *
  * The decoders are REAL from-spec codecs — no stub: BMP 24/32/8-bpp,
  * Netpbm, RIFF/WAVE PCM16 ([[graft.sources.MediaCodec]]), baseline +
  * progressive JPEG ([[graft.sources.Jpeg]]), PNG incl. Adam7
  * ([[graft.sources.Png]]), GIF ([[graft.sources.Gif]]), TIFF
  * ([[graft.sources.Tiff]]), FLAC ([[graft.sources.Flac]]) and
  * MJPEG-in-AVI ([[graft.sources.Avi]]). Because the
  * container ships no media fixtures, each query ENCODES a payload
  * deterministically from the document bytes in one mapPartitions stage,
  * then DECODES it in a second stage that sees only the opaque binary
  * column. The DuckDB oracle replays the feature arithmetic on the
  * document bytes directly and never sees the container format — so a
  * decoder that mis-handles BGR order, bottom-up rows, scanline padding,
  * header grammar or chunk alignment fails the hash compare. (The
  * encode→decode pair shares no index arithmetic: encoders write the
  * spec layout, decoders re-derive geometry from the parsed header.)
  *
  * At 100 TB the encode stage disappears (payloads arrive as stored
  * bytes) and the decode stage is the scan-parallel seam shown here: no
  * shuffle, no driver involvement, one codec instance per partition.
  */
object MultimodalQueries {

  final case class MediaRow(doc_id: Long, payload: Array[Byte],
                            format: String)
  final case class MediaFeature(doc_id: Long, width: Int, height: Int,
                                channels: Int, format: String,
                                lum_sum: Long, mean_lum: Double)

  /** Shared 32-wide PGM grid for m03/m04/m06: rows of document bytes,
    * last byte repeated to pad the final row. An empty document maps to
    * one all-zero row — h would otherwise be 0 and every decode-side
    * pixel access would crash; all-zero pixels reproduce what the DuckDB
    * oracles compute for empty text (ascii('') = 0 at every tap), so the
    * guard is oracle-faithful, not just crash-proof. */
  private def pgmGrid(id: Long, text: String): MediaRow = {
    val bytes = text.getBytes("US-ASCII")
    val len = bytes.length
    val h = math.max(1, (len + 31) / 32)
    val gray =
      if (len == 0) new Array[Byte](32)
      else Array.tabulate(32 * h)(i => bytes(math.min(i, len - 1)))
    MediaRow(id, MediaCodec.encodePgm(32, h, gray), "pgm")
  }

  /** JPEG twin of [[pgmGrid]]: a 32-px-wide grayscale baseline JPEG
    * whose 8×8 blocks (raster order, 4 per row, (len/32)%16+1 block
    * rows) are flat values cycling through the document bytes, written
    * with restart interval 3 so the production decode path crosses DC
    * predictor resets. Flat blocks decode bit-exactly (see [[Jpeg]]),
    * so the oracle replays pixel(x, y) = byte((4·(y/8) + x/8) mod len)
    * with no JPEG knowledge; an empty document is one all-zero block
    * row. m06/m11 route ODD doc_ids through this — half the corpus
    * exercises the real lossy-format container end to end. */
  private def jpegGrid(id: Long, text: String): MediaRow = {
    val bytes = text.getBytes("US-ASCII")
    val len = bytes.length
    val hb = (len / 32) % 16 + 1
    val vals = Array.tabulate(4 * hb)(k =>
      if (len == 0) 0 else bytes(k % len) & 0xFF)
    MediaRow(id, Jpeg.encodeGrayFlat(32, 8 * hb, vals, dri = 3), "jpeg")
  }

  /** m01 — image decode + feature extraction. Per document: an image
    * (w = len%64+1, h = len/64%64+1) encoded as BMP-24 / BMP-32 / PPM
    * (RGB channel bytes cycling through the document bytes) or as an
    * 8-bpp PALETTED BMP (grayscale color table; one document byte per
    * pixel) by doc_id%4, then decoded by magic-byte sniffing; features
    * are the decoded header geometry plus integer ITU-R BT.601 luma
    * (77R+150G+29B — for the paletted grayscale path that is exactly
    * 256·b per pixel, so the oracle stays integer-exact). */
  /** The m01 container mix (BMP-24/BMP-32/PPM/paletted BMP-8 by
    * doc_id%4, RGB bytes cycling through the document), shared by m01
    * and m23. */
  private def m01Media(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[MediaRow] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          // the oracle replays this arithmetic via ascii() code points, so
          // the encode must see one byte per char: getBytes("US-ASCII")
          // silently folds non-ASCII to '?' (63) and would diverge — fail
          // loud instead of producing a wrong-but-plausible feature row
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — pixel bytes would diverge from code points")
          val bytes = text.getBytes("US-ASCII")
          val len = bytes.length
          // empty doc: deterministic 1x1 black image (w = 0%64+1 = 1 and
          // h = 1 match the size formula; a zero pixel replaces the
          // undefined bytes(k % 0) access)
          val w = len % 64 + 1
          val h = (len / 64) % 64 + 1
          def rgb =
            if (len == 0) new Array[Byte](3)
            else Array.tabulate(w * h * 3)(k => bytes(k % len))
          (id % 4) match {
            case 0 => MediaRow(id, MediaCodec.encodeBmp24(w, h, rgb), "bmp24")
            case 1 => MediaRow(id, MediaCodec.encodeBmp32(w, h, rgb), "bmp32")
            case 2 => MediaRow(id, MediaCodec.encodePpm(w, h, rgb), "ppm")
            case _ =>
              val gray =
                if (len == 0) new Array[Byte](1)
                else Array.tabulate(w * h)(p => bytes(p % len))
              MediaRow(id, MediaCodec.encodeBmp8(w, h, gray), "bmp8")
          }
        }
      }
  }

  def m01_media_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = m01Media(s, dir)
    media.mapPartitions { it =>
      it.map { r =>
        val img = MediaCodec.decodeImage(r.payload) // sniffed, not trusted
        var lum = 0L
        var p = 0
        val n = img.width * img.height
        while (p < n) {
          lum += 77L * (img.pixels(3 * p) & 0xFF) +
            150L * (img.pixels(3 * p + 1) & 0xFF) +
            29L * (img.pixels(3 * p + 2) & 0xFF)
          p += 1
        }
        MediaFeature(r.doc_id, img.width, img.height, img.channels, r.format,
          lum, lum / (n * 256.0))
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class InterlaceFeature(doc_id: Long, width: Long, height: Long,
                                    luma_sum: Long, pos_hash: Long)

  /** m24 — Adam7-interlaced PNG decode: the progressive-rendering
    * variant real-world PNGs ship in (every pass is an independent
    * reduced raster that must be unfiltered on ITS OWN scanline
    * neighborhood, then scattered onto the full grid — spec §8.2).
    * The feature pair is chosen to catch exactly the bugs interlacing
    * invites: `luma_sum` ignores position (any permutation passes),
    * `pos_hash` = Σ pixel(p)·(p mod 97 + 1) is position-WEIGHTED, so a
    * single swapped scatter target changes it. Even doc_ids carry gray
    * rasters, odd RGB (both code paths, both bpp values). The oracle
    * replays both sums from document bytes — PNG is lossless, so every
    * pixel survives the filter+deflate+interlace round trip exactly.
    *
    * Scale shape: encode+decode+reduce in one scan pass, no shuffle. */
  def m24_png_interlaced(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — pixel bytes would diverge from code points")
          val bytes = text.getBytes("US-ASCII")
          val len = bytes.length
          val w = len % 64 + 1
          val h = (len / 64) % 64 + 1
          if (id % 2 == 0) {
            val gray =
              if (len == 0) new Array[Byte](1)
              else Array.tabulate(w * h)(p => bytes(p % len))
            MediaRow(id, Png.encodeAdam7(w, h, 1, gray), "png-i1")
          } else {
            val rgb =
              if (len == 0) new Array[Byte](3)
              else Array.tabulate(w * h * 3)(k => bytes(k % len))
            MediaRow(id, Png.encodeAdam7(w, h, 3, rgb), "png-i3")
          }
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val img = MediaCodec.decodeImage(r.payload)
        var lum = 0L
        var ph = 0L
        val n = img.width * img.height
        var p = 0
        if (img.channels == 3) {
          while (p < n) {
            val l = 77L * (img.pixels(3 * p) & 0xFF) +
              150L * (img.pixels(3 * p + 1) & 0xFF) +
              29L * (img.pixels(3 * p + 2) & 0xFF)
            lum += l
            ph += l * (p % 97 + 1)
            p += 1
          }
        } else {
          while (p < n) {
            val l = 256L * (img.pixels(p) & 0xFF)
            lum += l
            ph += l * (p % 97 + 1)
            p += 1
          }
        }
        InterlaceFeature(r.doc_id, img.width.toLong, img.height.toLong,
          lum, ph)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class ColorStat(doc_id: Long, n_pixels: Long, dom_cell: Long,
                             dom_count: Long, n_cells: Long)

  /** m23 — dominant-color statistics: the first COLOR-space feature in
    * the family (everything else reduces to luma). Each m01-mix image
    * quantizes per pixel into a 4×4×4 RGB cube (cell = (r>>6)·16 +
    * (g>>6)·4 + (b>>6), the classic 64-cell color histogram); features
    * are the dominant cell (ties → lowest cell index), its pixel count,
    * and the number of occupied cells — the triage signals behind
    * near-solid detection, palette clustering and color-based sharding.
    * The paletted BMP-8 path expands gray to r=g=b through the REAL
    * palette decode, so its cells land on the diagonal (v>>6)·21.
    *
    * Scale shape: decode + 64-cell histogram + argmax all inside one
    * mapPartitions pass; no shuffle beyond the output sort. */
  def m23_dominant_color(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    m01Media(s, dir).mapPartitions { it =>
      it.map { r =>
        val img = MediaCodec.decodeImage(r.payload)
        val hist = new Array[Long](64)
        val n = img.width * img.height
        var p = 0
        while (p < n) {
          val cell = ((img.pixels(3 * p) & 0xFF) >> 6) * 16 +
            ((img.pixels(3 * p + 1) & 0xFF) >> 6) * 4 +
            ((img.pixels(3 * p + 2) & 0xFF) >> 6)
          hist(cell) += 1
          p += 1
        }
        var dom = 0
        var occ = 0L
        var c = 0
        while (c < 64) {
          if (hist(c) > 0) occ += 1
          if (hist(c) > hist(dom)) dom = c
          c += 1
        }
        ColorStat(r.doc_id, n.toLong, dom.toLong, hist(dom), occ)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class AudioFeature(doc_id: Long, sample_rate: Long,
                                n_frames: Long, n_sampled: Long,
                                amp_sum: Long, mean_amp: Double)

  /** m02 — audio frame sampling: per document a mono PCM16 WAV (one
    * sample per document byte, s = (b-96)*128), decoded through the RIFF
    * chunk walk; frames of 32 samples, every 4th frame sampled, mean
    * absolute amplitude pooled over the sampled frames. */
  def m02_frame_sample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val frameLen = 32
    val stride = 4
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes("US-ASCII")
          val samples = Array.tabulate(bytes.length)(i =>
            (((bytes(i) & 0xFF) - 96) * 128).toShort)
          // odd ids ship FLAC, even ids WAV — the m08 mixed-corpus seam
          if (id % 2 == 1)
            MediaRow(id, Flac.encode(8000, 1, samples), "flac")
          else MediaRow(id, MediaCodec.encodeWav(8000, samples), "wav16")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val audio = MediaCodec.decodeAudio(r.payload)
        val n = audio.samples.length
        val nFrames = (n + frameLen - 1) / frameLen
        var ampSum = 0L
        var nsSamples = 0L
        var nSampled = 0L
        var f = 0
        while (f < nFrames) {
          val until = math.min(f * frameLen + frameLen, n)
          var i = f * frameLen
          while (i < until) {
            ampSum += math.abs(audio.samples(i).toLong)
            i += 1
          }
          nsSamples += until - f * frameLen
          nSampled += 1
          f += stride
        }
        AudioFeature(r.doc_id, audio.sampleRate.toLong, nFrames.toLong,
          nSampled, ampSum, ampSum / nsSamples.toDouble)
      }
    }.toDF()
      .orderBy("doc_id")
  }


  final case class ResampleRow(doc_id: Long, rate_in: Long, rate_out: Long,
                               n_in: Long, n_out: Long, amp_in: Long,
                               amp_out: Long, mean_out: Double)

  /** m16 — audio resampling (8 kHz → 16 kHz, exact 2× linear
    * interpolation): the sample-rate normalization every speech corpus
    * pays before a 16 kHz acoustic model sees it. The clip rides m02's
    * real RIFF/WAVE encode→decode; upsampling inserts the midpoint
    * between neighbors — out[2i] = s[i], out[2i+1] =
    * ⌊(s[i]+s[i+1])/2⌋ (floor division toward −∞ on the sum, the
    * convention both engines replay exactly), the final odd slot
    * replicating the last sample — so every output value is an exact
    * integer the DuckDB oracle reproduces from the document bytes.
    * Features: both rates and lengths plus input/output absolute
    * amplitude sums (the output sum ≠ 2× input sum whenever any
    * midpoint crosses zero, so a lazy "double the sum" fake fails).
    *
    * Scale shape: scan-parallel mapPartitions, one decoder + one O(n)
    * loop per clip, no shuffle before the output sort — 100 TB of
    * audio resamples at decode speed. */
  def m16_audio_resample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes("US-ASCII")
          val samples = Array.tabulate(bytes.length)(i =>
            (((bytes(i) & 0xFF) - 96) * 128).toShort)
          // odd ids ship FLAC, even ids WAV (the m08 mixed-corpus seam):
          // lossless either way, so the resample arithmetic and the
          // oracle are container-blind
          if (id % 2 == 1)
            MediaRow(id, Flac.encode(8000, 1, samples), "flac")
          else MediaRow(id, MediaCodec.encodeWav(8000, samples), "wav16")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val audio = MediaCodec.decodeAudio(r.payload)
        val in = audio.samples
        val n = in.length
        val out = new Array[Int](2 * n)
        var i = 0
        while (i < n) {
          out(2 * i) = in(i).toInt
          out(2 * i + 1) =
            if (i + 1 < n) Math.floorDiv(in(i).toInt + in(i + 1).toInt, 2)
            else in(i).toInt
          i += 1
        }
        var ampIn = 0L; var ampOut = 0L
        i = 0
        while (i < n) { ampIn += math.abs(in(i).toLong); i += 1 }
        i = 0
        while (i < 2 * n) { ampOut += math.abs(out(i).toLong); i += 1 }
        ResampleRow(r.doc_id, audio.sampleRate.toLong, 16000L, n.toLong,
          2L * n, ampIn, ampOut,
          if (n == 0) 0.0 else ampOut / (2.0 * n))
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class ResizeSample(doc_id: Long, n_samples: Long,
                                byte_sum: Long, mean_px: Double)

  /** m03 — resize plumbing over a REAL grayscale image: the document
    * bytes fill a W=32-wide PGM grid (H = ceil(len/32), padding
    * replicates the last byte), the P5 header + raster is decoded back,
    * and a nearest-neighbor 8×8 downsample pools the pixels — the index
    * arithmetic of an image resize over actually-decoded pixels. */
  def m03_resize_sample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => pgmGrid(id, text) })
    media.mapPartitions { it =>
      it.map { r =>
        val img = MediaCodec.decodeImage(r.payload)
        var sum = 0L
        var k = 0
        while (k < 64) {
          val srcR = (k / 8) * img.height / 8
          val srcC = (k % 8) * 4
          sum += (img.pixels(srcR * img.width + srcC) & 0xFF).toLong
          k += 1
        }
        ResizeSample(r.doc_id, 64L, sum, sum / 64.0)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class BilinearSample(doc_id: Long, n_out: Long,
                                  bl_sum: Long, mean_bl: Double)

  /** m04 — bilinear resize over really-decoded pixels: the m03 PGM grid
    * downsampled to 8×8 with align-corners bilinear interpolation in
    * EXACT fixed-point (source coords r·(H−1)/7, c·(W−1)/7; the four
    * taps weighted (7−fr)(7−fc)/fr·fc over denominator 49, all
    * integers), so the oracle can replay the arithmetic bit-exactly.
    * Same two-stage opaque-binary seam as m01–m03; at scale this is the
    * standard thumbnail/feature-pyramid pass — scan-parallel, one codec
    * per partition, no shuffle. */
  def m04_resize_bilinear(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => pgmGrid(id, text) })
    media.mapPartitions { it =>
      it.map { r =>
        val img = MediaCodec.decodeImage(r.payload)
        val (w, h) = (img.width, img.height)
        def px(y: Int, x: Int): Long =
          (img.pixels(y * w + x) & 0xFF).toLong
        var sum = 0L
        var k = 0
        while (k < 64) {
          val srn = (k / 8) * (h - 1) // align-corners: r*(H-1)/7
          val scn = (k % 8) * (w - 1)
          val qr = srn / 7; val fr = (srn % 7).toLong
          val qc = scn / 7; val fc = (scn % 7).toLong
          val qr1 = math.min(qr + 1, h - 1)
          val qc1 = math.min(qc + 1, w - 1)
          sum += (7 - fr) * (7 - fc) * px(qr, qc) +
            (7 - fr) * fc * px(qr, qc1) +
            fr * (7 - fc) * px(qr1, qc) +
            fr * fc * px(qr1, qc1)
          k += 1
        }
        BilinearSample(r.doc_id, 64L, sum, sum / (64 * 49.0))
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class AudioStats(doc_id: Long, n_samples: Long, zcr: Long,
                              energy: Long, peak: Long)

  /** m05 — audio feature extraction over the decoded PCM stream (the
    * classic speech/music triage features, all exact integers so the
    * oracle replays them): zero-crossing count (strict sign flip across
    * the 0 boundary), total energy Σs², and peak |s|. Same WAV payload
    * as m02, same opaque-binary two-stage seam. */
  def m05_audio_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes("US-ASCII")
          val samples = Array.tabulate(bytes.length)(i =>
            (((bytes(i) & 0xFF) - 96) * 128).toShort)
          // odd ids ship FLAC, even ids WAV — the m08 mixed-corpus seam
          if (id % 2 == 1)
            MediaRow(id, Flac.encode(8000, 1, samples), "flac")
          else MediaRow(id, MediaCodec.encodeWav(8000, samples), "wav16")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val a = MediaCodec.decodeAudio(r.payload).samples
        var zcr = 0L
        var energy = 0L
        var peak = 0L
        var i = 0
        while (i < a.length) {
          val v = a(i).toLong
          energy += v * v
          if (math.abs(v) > peak) peak = math.abs(v)
          if (i > 0 && ((a(i - 1) < 0) != (v < 0))) zcr += 1
          i += 1
        }
        AudioStats(r.doc_id, a.length.toLong, zcr, energy, peak)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  /** m06 — perceptual image dedup via difference hash (dHash): each
    * document's PGM image (m04's grid) is nearest-sampled to a 9×8
    * luminance grid through the REAL decode path, each of 63 adjacent
    * pixel comparisons sets one hash bit (63, not 64 — bit 63 would
    * need an unsigned 64-bit literal the oracle's BIGINT lacks), and
    * near-duplicate images are found d04-style: a 4×16-bit band join
    * proposes candidates, Hamming distance ≤ 6 verifies. This is the
    * image-side twin of MinHash text dedup — the standard near-dup
    * scrub for a multimodal training corpus. ODD doc_ids ship their
    * grid as a real baseline JPEG ([[jpegGrid]]) instead of PGM — the
    * decode stage is format-blind (magic-byte sniff), so half the
    * corpus drives the full T.81 chain.
    *
    * Scale shape: hash is one scan-parallel codec pass (8 B/image
    * index); the band join is an equi-join on 16-bit keys (bounded
    * buckets, same skew story as d03/d04); verify is two longs XOR +
    * popcount per candidate. */
  def m06_image_dhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        if (id % 2 == 1) jpegGrid(id, text) else pgmGrid(id, text) })
    val hashed = media.mapPartitions { it =>
      it.map { r =>
        val img = MediaCodec.decodeImage(r.payload)
        val (w, h) = (img.width, img.height)
        def g(rr: Int, cc: Int): Int = {
          val y = rr * (h - 1) / 7
          val x = cc * (w - 1) / 8
          img.pixels(y * w + x) & 0xFF
        }
        var hash = 0L
        var b = 0
        while (b < 63) {
          if (g(b / 8, b % 8) > g(b / 8, b % 8 + 1)) hash |= 1L << b
          b += 1
        }
        (r.doc_id, hash)
      }
    }.toDF("doc_id", "dhash")
    val bands = hashed.select(col("doc_id"), col("dhash"), explode(
        array((0 until 4).map(b => struct(lit(b).as("b"),
          shiftright(col("dhash"), 16 * b).bitwiseAND(65535L).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("dhash"), col("bk.b"), col("bk.key"))
    bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .orderBy("doc_a", "doc_b")
  }

  /** m21 — block-mean perceptual hash (the public block-mean-value
    * image hashing scheme of Yang, Gu & Niu 2006): nearest-resample
    * each decoded image to a 16×16 luma grid, split it into 64 equal
    * 2×2 blocks, and set bit b when block b's pixel sum exceeds the
    * image's own lower-median block sum (63 bits — bit 63 dropped so
    * the hash fits the oracle's signed BIGINT, the m06 convention).
    * Near-duplicates are then found exactly like m06: a 4×16-bit band
    * join proposes candidates, Hamming ≤ 6 verifies. dHash (m06) keys
    * on LOCAL gradients; the block hash keys on the coarse luminance
    * LAYOUT, so the pair catches different corruption families
    * (high-frequency noise vs global level structure). Equal-size
    * blocks keep every comparison integer-exact — no DCT doubles
    * anywhere in the pipeline. ODD doc_ids decode through the real
    * baseline-JPEG path, even through PGM, same as m06.
    *
    * Scale shape: hashing is one scan-parallel codec pass emitting
    * 8 B/image; the band join is an equi-join on 16-bit keys with the
    * d03/d04 bounded-bucket skew story; verify is XOR + popcount. */
  def m21_block_phash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        if (id % 2 == 1) jpegGrid(id, text) else pgmGrid(id, text) })
    val hashed = media.mapPartitions { it =>
      it.map { r =>
        val img = MediaCodec.decodeImage(r.payload)
        val (w, h) = (img.width, img.height)
        val grid = Array.tabulate(256) { k =>
          val y = (k / 16) * (h - 1) / 15
          val x = (k % 16) * (w - 1) / 15
          img.pixels(y * w + x) & 0xFF
        }
        val sums = Array.tabulate(64) { b =>
          val r0 = 2 * (b / 8); val c0 = 2 * (b % 8)
          grid(r0 * 16 + c0) + grid(r0 * 16 + c0 + 1) +
            grid((r0 + 1) * 16 + c0) + grid((r0 + 1) * 16 + c0 + 1)
        }
        val sorted = sums.clone(); java.util.Arrays.sort(sorted)
        val med = sorted(31) // lower median of the 64 block sums
        var hash = 0L
        var b = 0
        while (b < 63) { if (sums(b) > med) hash |= 1L << b; b += 1 }
        (r.doc_id, hash)
      }
    }.toDF("doc_id", "ph")
    val bands = hashed.select(col("doc_id"), col("ph"), explode(
        array((0 until 4).map(b => struct(lit(b).as("b"),
          shiftright(col("ph"), 16 * b).bitwiseAND(65535L).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("ph"), col("bk.b"), col("bk.key"))
    bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.ph").bitwiseXOR(col("y.ph"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .orderBy("doc_a", "doc_b")
  }

  final case class TiffMeta(doc_id: Long, width: Long, height: Long,
                            n_strips: Long, n_tags: Long, byte_order: Long,
                            luma_sum: Long)

  /** m22 — TIFF ingest through the real IFD tag-directory walk
    * ([[graft.sources.Tiff]]): TIFF is the mainstream raster container
    * whose header is TYPED METADATA (tag, type, count,
    * inline-value-or-offset) rather than a fixed struct, so decoding it
    * is precisely the "opaque binary column + typed metadata" seam this
    * family exists to exercise. Each document's [[pgmGrid]]-convention
    * pixels ship as a multi-strip uncompressed gray TIFF — EVEN doc_ids
    * little-endian ("II"), ODD big-endian ("MM"), so both byte orders
    * decode on every run; images taller than 4 rows force the strip
    * offset/count arrays OUT of the IFD (the offset branch), h ≤ 4
    * keeps them inline (the left-justified value branch). Features are
    * the walked metadata (geometry, strip/tag counts, byte order) plus
    * the integer luma sum over the gathered strips.
    *
    * Scale shape: encode+decode+reduce ride the scan — one pass, no
    * shuffle beyond the final orderBy. */
  def m22_tiff_metadata(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes("US-ASCII")
        val len = bytes.length
        val h = math.max(1, (len + 31) / 32)
        val gray =
          if (len == 0) new Array[Byte](32)
          else Array.tabulate(32 * h)(i => bytes(math.min(i, len - 1)))
        val payload = Tiff.encodeGray(32, h, gray, bigEndian = id % 2 == 1)
        val d = Tiff.decode(payload)
        var luma = 0L
        d.image.pixels.foreach(p => luma += (p & 0xFF))
        TiffMeta(id, d.image.width.toLong, d.image.height.toLong,
          d.nStrips.toLong, d.nTags.toLong, if (d.bigEndian) 2L else 1L,
          luma)
      })
      .toDF()
      .orderBy("doc_id")
  }

  final case class VideoFeature(doc_id: Long, n_frames: Long, luma0: Long,
                                motion: Long)

  /** m07 — VIDEO-shaped multimodal pass: each document becomes a
    * multi-frame motion-PGM container (2–7 self-describing 4×4 P5
    * frames, frame f pixel p = byte (f + 3p) mod len — temporally
    * shifting content, so inter-frame deltas are non-trivial), decoded
    * through the REAL sequential container walk
    * ([[MediaCodec.decodePgmFrames]]), and reduced to the two classic
    * video triage features: first-frame luma and total motion
    * (Σ |frame_f − frame_{f−1}| over pixels) — all exact integers the
    * oracle replays from the document bytes. Completes the
    * image (m01/m03/m04/m06) / audio (m02/m05) / video modality set;
    * same two-stage opaque-binary seam, scan-parallel, no shuffle. An
    * empty document maps to all-zero frames (the m03/m04/m06 guard
    * convention: ascii('') = 0 on the oracle side). */
  def m07_video_motion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes("US-ASCII")
        val len = bytes.length
        val f = len % 6 + 2
        val payload = (0 until f).map { fr =>
          val gray = Array.tabulate(16)(p =>
            if (len == 0) 0.toByte else bytes((fr + 3 * p) % len))
          MediaCodec.encodePgm(4, 4, gray)
        }.reduce(_ ++ _)
        MediaRow(id, payload, "mpgm")
      })
    media.mapPartitions(_.map { r =>
      val frames = MediaCodec.decodePgmFrames(r.payload)
      var luma0 = 0L
      frames.head.pixels.foreach(b => luma0 += (b & 0xFF))
      var motion = 0L
      var f = 1
      while (f < frames.length) {
        val a = frames(f - 1).pixels
        val b = frames(f).pixels
        var p = 0
        while (p < b.length) {
          motion += math.abs((b(p) & 0xFF) - (a(p) & 0xFF))
          p += 1
        }
        f += 1
      }
      VideoFeature(r.doc_id, frames.length.toLong, luma0, motion)
    }).toDF()
      .orderBy("doc_id")
  }

  /** m08 — audio near-dup scrub via energy-delta fingerprints (the
    * Haitsma-Kalker shape): each document's WAV (m05's synthesis) is
    * cut into 33 equal-duration segments — duration-relative, so the
    * fingerprint is length-invariant like a real audio fingerprint is
    * tempo-robust — and each of the 32 segment transitions contributes
    * one bit (energy rose vs fell). Near-duplicate audio is then found
    * exactly like m06 finds near-dup images: a 2×16-bit band equi-join
    * proposes candidates, Hamming ≤ 4 verifies. Completes the
    * modality-dedup triple (text d03/d04, image m06, audio m08).
    *
    * Scale shape: fingerprinting is one scan-parallel codec pass (4 B
    * of index per clip); the band join is bounded-bucket (16-bit keys)
    * with the d03/d04 skew story; verify is XOR + popcount. */
  def m08_audio_fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .filter(_._2.length >= 33) // need one sample per segment
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes("US-ASCII")
        val samples = Array.tabulate(bytes.length)(i =>
          (((bytes(i) & 0xFF) - 96) * 128).toShort)
        // odd ids ship FLAC ([[graft.sources.Flac]]), even ids WAV: the
        // decode stage sniffs magic bytes, and FLAC is lossless so the
        // fingerprint arithmetic — and the oracle — see identical PCM
        if (id % 2 == 1)
          MediaRow(id, graft.sources.Flac.encode(8000, 1, samples), "flac")
        else MediaRow(id, MediaCodec.encodeWav(8000, samples), "wav16")
      })
    val fps = media.mapPartitions(_.map { r =>
      val a = MediaCodec.decodeAudio(r.payload).samples
      val len = a.length
      val es = Array.tabulate(33) { f =>
        var e = 0L
        var i = f * len / 33
        val hi = (f + 1) * len / 33
        while (i < hi) { val v = a(i).toLong; e += v * v; i += 1 }
        e
      }
      var fp = 0L
      var b = 0
      while (b < 32) { if (es(b + 1) > es(b)) fp |= 1L << b; b += 1 }
      (r.doc_id, fp)
    }).toDF("doc_id", "fp")
    val bands = fps.select(col("doc_id"), col("fp"), explode(
        array((0 until 2).map(b => struct(lit(b).as("b"),
          shiftright(col("fp"), 16 * b).bitwiseAND(65535L).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("fp"), col("bk.b"), col("bk.key"))
    bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= 4)
      .orderBy("doc_a", "doc_b")
  }

  final case class PatchRow(doc_id: Long, band: Long, pcol: Long,
                            n_px: Long, psum: Long, psumsq: Long)

  /** m09 — ViT-style patchification: the 32-wide PGM grid is decoded
    * and cut into 8×8 patches (4 per 8-row band; a short bottom band
    * keeps its true pixel count), each reduced to the sufficient
    * statistics a patch-embedding or patch-dedup stage consumes (pixel
    * count, sum, sum of squares — exact integers, so mean/variance
    * derive downstream without float drift). This is the image →
    * patch-sequence seam every vision-transformer pipeline runs before
    * embedding; the oracle replays the pixel arithmetic from the
    * document bytes and never sees the PGM container.
    *
    * Scale shape: two scan-parallel mapPartitions stages (encode |
    * decode+patch), fan-out ≤ 4·⌈h/8⌉ rows per image, no shuffle before
    * the output sort — identical posture to m01–m08. */
  def m09_vit_patches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => pgmGrid(id, text) })
    media.mapPartitions { it =>
      it.flatMap { r =>
        val img = MediaCodec.decodeImage(r.payload)
        val (w, h) = (img.width, img.height)
        for {
          band <- 0 until (h + 7) / 8
          pcol <- 0 until w / 8
        } yield {
          val rows = math.min(8, h - band * 8)
          var sum = 0L
          var sq = 0L
          var rr = 0
          while (rr < rows) {
            var cc = 0
            while (cc < 8) {
              val v = (img.pixels((band * 8 + rr) * w + pcol * 8 + cc) & 0xFF).toLong
              sum += v
              sq += v * v
              cc += 1
            }
            rr += 1
          }
          PatchRow(r.doc_id, band.toLong, pcol.toLong, rows * 8L, sum, sq)
        }
      }
    }.toDF().orderBy("doc_id", "band", "pcol")
  }

  final case class RowSig(pair_id: Long, sx: Long, sy: Long, sxx: Long,
                          syy: Long, sxy: Long)

  /** m10 — structural similarity (SSIM family) between consecutive doc
    * images, in EXACT integer arithmetic: the luminance/contrast/
    * structure comparison every perceptual-quality triage runs beside
    * the dHash dedup (m06). Each doc pairs with its successor
    * (pair_id = even doc_id); both 32-wide PGM grids decode through the
    * real codec and the first grid row (32 px, always present) yields
    * the five sufficient sums; the classic SSIM quotient is cleared of
    * divisions — A·B / (C·D) with A = 2SxSy+c1n², B = 2(nSxy−SxSy)+c2n²,
    * C = Sx²+Sy²+c1n², D = (nSxx−Sx²)+(nSyy−Sy²)+c2n² — and carried in
    * decimal(38,0) (HUGEINT in the oracle) to a 1e-6 fixed-point result.
    * Identical inputs score exactly 1e6.
    *
    * Scale shape: one shuffle join on the successor key (both sides
    * partitioned by pair_id), decode scan-parallel on each side. */
  private val SsimC1 = 6L * 32 * 32 // ≈ (0.01·255)²·n², n = 32
  private val SsimC2 = 58L * 32 * 32 // ≈ (0.03·255)²·n²

  def m10_patch_ssim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c1 = SsimC1
    val c2 = SsimC2
    def row0(payload: Array[Byte]): Array[Long] = {
      val img = MediaCodec.decodeImage(payload)
      Array.tabulate(32)(i => (img.pixels(i) & 0xFF).toLong)
    }
    val sides = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val px = row0(pgmGrid(id, text).payload)
        // side 0 = even doc (left), side 1 = odd doc (right of pair id-1)
        val pid = if (id % 2 == 0) id else id - 1
        (pid, id % 2, px.sum, px.map(v => v * v).sum, px)
      }).toDF("pair_id", "side", "s1", "s2", "px")
    sides.filter(col("side") === 0).as("x")
      .join(sides.filter(col("side") === 1).as("y"), "pair_id")
      .select(col("pair_id"), col("x.s1").as("sx"), col("y.s1").as("sy"),
        col("x.s2").as("sxx"), col("y.s2").as("syy"),
        zip_with(col("x.px"), col("y.px"), (a, b) => a * b).as("xy"))
      .withColumn("sxy", aggregate(col("xy"), lit(0L), (acc, v) => acc + v))
      .withColumn("ssim_fp", expr(
        s"""CAST(((2 * CAST(sx AS DECIMAL(38,0)) * sy + $c1) *
             (2 * (32 * CAST(sxy AS DECIMAL(38,0)) - CAST(sx AS DECIMAL(38,0)) * sy) + $c2) * 1000000) div
           ((CAST(sx AS DECIMAL(38,0)) * sx + CAST(sy AS DECIMAL(38,0)) * sy + $c1) *
             ((32 * CAST(sxx AS DECIMAL(38,0)) - CAST(sx AS DECIMAL(38,0)) * sx) +
              (32 * CAST(syy AS DECIMAL(38,0)) - CAST(sy AS DECIMAL(38,0)) * sy) + $c2)) AS BIGINT)"""))
      .select("pair_id", "sx", "sy", "sxy", "ssim_fp")
      .orderBy("pair_id")
  }

  final case class HistGate(doc_id: Long, n_px: Long, contrast: Long,
                            n_bins_used: Long, dom_share_fp: Long,
                            keep: Long)

  /** m11 — blank / low-information image gate: the image-corpus filter
    * that drops solid-color, near-empty and clipped frames before
    * feature extraction (the visual analogue of t19's gibberish
    * filter). Per decoded image: a 32-bin luminance histogram, contrast
    * = max−min pixel, dominant-bin share at 1e-6 fixed point, and a
    * keep decision (drop when the dominant bin holds ≥ 75 % of pixels
    * or contrast < 16 — a solid or one-tone image fails both ways).
    *
    * The payload is the m03 PGM grid (even doc_ids) or its baseline
    * JPEG twin ([[jpegGrid]], odd doc_ids) encoded + decoded through
    * the real from-spec codecs behind the same magic-byte sniff; the
    * DuckDB oracle replays the histogram on the document code points
    * and never sees either container — a decoder that mangled the
    * raster would shift bins and fail the hash.
    *
    * Scale shape: scan-parallel mapPartitions (one decoder per
    * partition, one 32-long histogram per row, no shuffle before the
    * output sort) — 100 TB of images run at decode speed. */
  def m11_histogram_gate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        if (id % 2 == 1) jpegGrid(id, text) else pgmGrid(id, text) })
    media.mapPartitions { it =>
      it.map { r =>
        val img = MediaCodec.decodeImage(r.payload)
        val n = img.width * img.height
        val hist = new Array[Long](32)
        var mn = 255
        var mx = 0
        var p = 0
        while (p < n) {
          val v = img.pixels(p) & 0xFF
          hist(v / 8) += 1
          if (v < mn) mn = v
          if (v > mx) mx = v
          p += 1
        }
        var used = 0L
        var dom = 0L
        var b = 0
        while (b < 32) {
          if (hist(b) > 0) used += 1
          if (hist(b) > dom) dom = hist(b)
          b += 1
        }
        val contrast = (mx - mn).toLong
        val domShare = dom * 1000000L / n
        HistGate(r.doc_id, n.toLong, contrast, used, domShare,
          if (domShare >= 750000L || contrast < 16L) 0L else 1L)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class JpegFeature(doc_id: Long, width: Int, height: Int,
                               channels: Int, format: String,
                               n_blocks: Long, lum_sum: Long,
                               mean_lum: Double)

  /** m14 — REAL-WORLD image format: per document a full 3-component
    * 4:2:0 YCbCr baseline JPEG (w = 16·(len%4+1), h = 16·(len/4%4+1),
    * restart interval 2), decoded through the from-spec ITU T.81
    * decoder ([[graft.sources.Jpeg]]) behind the same magic-byte sniff
    * as every other image operator, then reduced to m01's integer
    * BT.601 luma features. The luma raster is built from flat 8×8
    * blocks cycling through the document bytes with neutral chroma, the
    * one JPEG content class whose decode is bit-exact (lone-DC IDCT
    * inverts to the constant; Cb=Cr=128 makes YCbCr→RGB the identity) —
    * so the DuckDB oracle replays decoded pixels from document bytes
    * with no JPEG knowledge, while the Spark side exercises the real
    * marker/Huffman/restart/dequant/IDCT/upsample/color chain: any
    * decoder bug shifts pixels and fails the hash.
    *
    * Scale shape: identical to m01 — two scan-parallel mapPartitions
    * stages (encode exists only because the container ships no media
    * fixtures; at 100 TB payloads arrive as stored bytes), no shuffle
    * before the output sort, one decoder instance per partition. */
  def m14_jpeg_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — pixel bytes would diverge from code points")
          val bytes = text.getBytes("US-ASCII")
          val len = bytes.length
          val w = 16 * (len % 4 + 1)
          val h = 16 * ((len / 4) % 4 + 1)
          val vals = Array.tabulate((w / 8) * (h / 8))(k =>
            if (len == 0) 0 else bytes(k % len) & 0xFF)
          MediaRow(id, Jpeg.encodeColor420Flat(w, h, vals, 128, 128, dri = 2),
            "jpeg")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val img = MediaCodec.decodeImage(r.payload) // sniffed, not trusted
        var lum = 0L
        var p = 0
        val n = img.width * img.height
        while (p < n) {
          lum += 77L * (img.pixels(3 * p) & 0xFF) +
            150L * (img.pixels(3 * p + 1) & 0xFF) +
            29L * (img.pixels(3 * p + 2) & 0xFF)
          p += 1
        }
        JpegFeature(r.doc_id, img.width, img.height, img.channels, r.format,
          (img.width / 8).toLong * (img.height / 8), lum, lum / (n * 256.0))
      }
    }.toDF()
      .orderBy("doc_id")
  }

  /** m15 — PNG decode + feature extraction: the LOSSLESS real-world
    * format next to m14's JPEG, and the stronger verification surface —
    * ARBITRARY per-pixel content survives the round trip, so the oracle
    * replays every pixel of the raster (m01's cycling fill + integer
    * BT.601 luma) through the full zlib-inflate + scanline-unfilter
    * chain. The encoder's row-cycling filter schedule (row mod 5) means
    * every document exercises all five PNG filter types including
    * Paeth; even doc_ids ship RGB truecolor, odd doc_ids 8-bit
    * grayscale (luma = 256·b, the m01 bmp8 convention). Decode runs
    * behind the same magic-byte sniff as every image operator.
    *
    * Scale shape: identical to m01/m14 — two scan-parallel
    * mapPartitions stages, no shuffle before the output sort. */
  def m15_png_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — pixel bytes would diverge from code points")
          val bytes = text.getBytes("US-ASCII")
          val len = bytes.length
          val w = len % 64 + 1
          val h = (len / 64) % 64 + 1
          if (id % 2 == 0) {
            val rgb =
              if (len == 0) new Array[Byte](3)
              else Array.tabulate(w * h * 3)(k => bytes(k % len))
            MediaRow(id, Png.encode(w, h, 3, rgb), "png-rgb")
          } else {
            val gray =
              if (len == 0) new Array[Byte](1)
              else Array.tabulate(w * h)(p => bytes(p % len))
            MediaRow(id, Png.encode(w, h, 1, gray), "png-gray")
          }
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val img = MediaCodec.decodeImage(r.payload) // sniffed, not trusted
        var lum = 0L
        var p = 0
        val n = img.width * img.height
        if (img.channels == 3) {
          while (p < n) {
            lum += 77L * (img.pixels(3 * p) & 0xFF) +
              150L * (img.pixels(3 * p + 1) & 0xFF) +
              29L * (img.pixels(3 * p + 2) & 0xFF)
            p += 1
          }
        } else {
          while (p < n) { lum += 256L * (img.pixels(p) & 0xFF); p += 1 }
        }
        MediaFeature(r.doc_id, img.width, img.height, img.channels, r.format,
          lum, lum / (n * 256.0))
      }
    }.toDF()
      .orderBy("doc_id")
  }


  final case class Png16Feature(doc_id: Long, width: Int, height: Int,
                                channels: Int, format: String, s_sum: Long,
                                s_wsum: Long, s_min: Long, s_max: Long,
                                hi8_sum: Long)

  /** m34 — 16-BIT PNG decode at full precision (round-14 verdict item
    * 3: `Png` previously rejected depth 16, but scientific and medical
    * imagery is 16-bit heavy, it's in-spec and lossless). Even doc_ids
    * carry 16-bit grayscale, odd doc_ids 16-bit RGB; every sample is
    * built from TWO independent text bytes (high = byte(k mod len),
    * low = byte((7k+3) mod len)), so the oracle pins both bytes of
    * every sample separately — a decoder that swapped endianness,
    * stepped filters by one byte instead of channels·2, or served the
    * low byte would break s_sum/s_wsum/s_min/s_max. The row-cycling
    * filter schedule exercises all five PNG filters on the 2-byte
    * planes. `hi8_sum` additionally runs the SAME payload through the
    * sniffing [[MediaCodec.decodeImage]] and checks the spec's §13.12
    * 16→8 high-byte rescale: it must equal the sum of the high bytes
    * alone.
    *
    * Scale shape: identical to m15 — two scan-parallel mapPartitions
    * stages, no shuffle before the output sort. */
  def m34_png16_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — sample bytes would diverge")
          val b = text.getBytes("US-ASCII")
          val len = b.length
          val w = len % 48 + 1
          val h = (len / 48) % 32 + 1
          val ch = if (id % 2 == 0) 1 else 3
          val samples = Array.tabulate(w * h * ch)(k =>
            if (len == 0) 0
            else 256 * (b(k % len) & 0xFF) + (b((k * 7 + 3) % len) & 0xFF))
          MediaRow(id, Png.encode16(w, h, ch, samples),
            if (ch == 1) "png16-gray" else "png16-rgb")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val img = Png.decode16(r.payload)
        val img8 = MediaCodec.decodeImage(r.payload) // sniffed 16->8 route
        var sSum = 0L; var sW = 0L
        var mn = Long.MaxValue; var mx = Long.MinValue
        var k = 0
        while (k < img.samples.length) {
          val v = img.samples(k).toLong
          sSum += v; sW += v * (k + 1)
          if (v < mn) mn = v
          if (v > mx) mx = v
          k += 1
        }
        var h8 = 0L
        k = 0
        while (k < img8.pixels.length) { h8 += img8.pixels(k) & 0xFF; k += 1 }
        Png16Feature(r.doc_id, img.width, img.height, img.channels, r.format,
          sSum, sW, mn, mx, h8)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class AdpcmFeature(doc_id: Long, n_samples: Long, s_sum: Long,
                                s_abs: Long, s_last: Long, s_min: Long,
                                s_max: Long)

  /** Assemble a mono IMA ADPCM RIFF/WAVE file holding ONE block with
    * the given initial (predictor, step index) and nibble stream — the
    * fixture-side twin of [[MediaCodec.decodeWav]]'s tag-0x11 path,
    * sharing no state-machine arithmetic with it. */
  private def wavImaBlock(sampleRate: Int, pred: Int, idx: Int,
      nibbles: Array[Int]): Array[Byte] = {
    require(nibbles.length % 2 == 0, "nibbles pair into bytes")
    val blockAlign = 4 + nibbles.length / 2
    val spb = nibbles.length + 1
    val b = java.nio.ByteBuffer.allocate(12 + 28 + 8 + blockAlign)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII"))
    b.putInt(4 + 28 + 8 + blockAlign)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII"))
    b.putInt(20)
    b.putShort(0x11); b.putShort(1)
    b.putInt(sampleRate)
    b.putInt(sampleRate * blockAlign / spb)
    b.putShort(blockAlign.toShort); b.putShort(4)
    b.putShort(2); b.putShort(spb.toShort)
    b.put("data".getBytes("US-ASCII"))
    b.putInt(blockAlign)
    b.put((pred & 0xFF).toByte); b.put(((pred >> 8) & 0xFF).toByte)
    b.put(idx.toByte); b.put(0.toByte)
    var i = 0
    while (i < nibbles.length / 2) {
      b.put((nibbles(2 * i) | (nibbles(2 * i + 1) << 4)).toByte)
      i += 1
    }
    b.array()
  }

  /** m35 — IMA ADPCM WAV decode (round-14 verdict item 4: the
    * deterministic-integer COMPRESSED audio format — MP3/AAC are float
    * transforms and poor oracle fits, but IMA/DVI ADPCM is
    * exactly-specified integer step-table arithmetic, so a per-sample
    * oracle replays the decode bit-for-bit: the FLAC property at
    * 4 bits/sample). Each document carries one 36-byte block — initial
    * predictor (byte(0)−64)·256, initial step index byte(1 mod len)
    * mod 89, then 64 nibbles byte((5k+1) mod len) mod 16 — decoded
    * through the sniffing [[MediaCodec.decodeAudio]] (RIFF → format
    * tag 0x11 route). The DuckDB oracle replays all 64 state
    * transitions with a RECURSIVE CTE over the literal step/index
    * tables — every document advances one nibble per iteration, so the
    * recursion depth is the fixed block length, not the corpus size.
    * Sum, |sum|, min, max and the final predictor pin the whole
    * trajectory; one wrong clamp, table entry or nibble order breaks
    * them.
    *
    * Scale shape: identical to m05 — two scan-parallel mapPartitions
    * stages, no shuffle before the output sort. */
  def m35_adpcm_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — nibble stream would diverge")
          val b = text.getBytes("US-ASCII")
          val len = b.length
          val pred = if (len == 0) 0 else ((b(0) & 0xFF) - 64) * 256
          val idx = if (len == 0) 0 else (b(1 % len) & 0xFF) % 89
          val nibbles = Array.tabulate(64)(k =>
            if (len == 0) 0 else (b((5 * k + 1) % len) & 0xFF) % 16)
          MediaRow(id, wavImaBlock(8000, pred, idx, nibbles), "ima-adpcm")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val au = MediaCodec.decodeAudio(r.payload) // sniffed, not trusted
        var sum = 0L; var abs = 0L
        var mn = Long.MaxValue; var mx = Long.MinValue
        var k = 0
        while (k < au.samples.length) {
          val v = au.samples(k).toLong
          sum += v; abs += math.abs(v)
          if (v < mn) mn = v
          if (v > mx) mx = v
          k += 1
        }
        AdpcmFeature(r.doc_id, au.samples.length.toLong, sum, abs,
          au.samples.last.toLong, mn, mx)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  private val ImaStepSql =
    """[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,
       34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,
       157,173,190,209,230,253,279,307,337,371,408,449,494,544,
       598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,
       1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,
       5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,
       13899,15289,16818,18500,20350,22385,24623,27086,29794,
       32767]"""
  private val ImaIdxSql =
    "[-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8]"

  private lazy val m36Sql: String =
    s"""WITH RECURSIVE t AS (SELECT doc_id, text, length(text) AS len
         FROM documents),
       init AS (SELECT doc_id, text, len,
         CASE WHEN len = 0 THEN 0
           ELSE (ascii(substr(text, 1, 1)) - 64) * 256 END AS pl,
         CASE WHEN len = 0 THEN 0
           ELSE ascii(substr(text, (1 % len)::INT + 1, 1)) % 89 END AS il,
         CASE WHEN len = 0 THEN 0
           ELSE (ascii(substr(text, (2 % len)::INT + 1, 1)) - 64) * 256
           END AS pr,
         CASE WHEN len = 0 THEN 0
           ELSE ascii(substr(text, (3 % len)::INT + 1, 1)) % 89 END AS ir
         FROM t),
       steps AS (
         SELECT doc_id, text, len, 0 AS k, pl, il, pr, ir,
           pl::BIGINT AS l_sum, pr::BIGINT AS r_sum,
           least(pl, pr) AS s_min, greatest(pl, pr) AS s_max
         FROM init
         UNION ALL
         SELECT doc_id, text, len, k, npl AS pl, nil AS il,
           npr AS pr, nir AS ir,
           l_sum + npl, r_sum + npr,
           least(s_min, least(npl, npr)),
           greatest(s_max, greatest(npl, npr))
         FROM (
           SELECT doc_id, text, len, k, l_sum, r_sum, s_min, s_max,
             greatest(-32768, least(32767,
               CASE WHEN nl >= 8 THEN pl - dl ELSE pl + dl END)) AS npl,
             greatest(0, least(88, il + $ImaIdxSql[nl + 1])) AS nil,
             greatest(-32768, least(32767,
               CASE WHEN nr >= 8 THEN pr - dr ELSE pr + dr END)) AS npr,
             greatest(0, least(88, ir + $ImaIdxSql[nr + 1])) AS nir
           FROM (
             SELECT doc_id, text, len, k + 1 AS k, pl, il, pr, ir, nl, nr,
               l_sum, r_sum, s_min, s_max,
               (sl // 8) + CASE WHEN nl % 2 = 1 THEN sl // 4 ELSE 0 END
                 + CASE WHEN (nl // 2) % 2 = 1 THEN sl // 2 ELSE 0 END
                 + CASE WHEN (nl // 4) % 2 = 1 THEN sl ELSE 0 END AS dl,
               (sr // 8) + CASE WHEN nr % 2 = 1 THEN sr // 4 ELSE 0 END
                 + CASE WHEN (nr // 2) % 2 = 1 THEN sr // 2 ELSE 0 END
                 + CASE WHEN (nr // 4) % 2 = 1 THEN sr ELSE 0 END AS dr
             FROM (
               SELECT doc_id, text, len, k, pl, il, pr, ir,
                 l_sum, r_sum, s_min, s_max,
                 CASE WHEN len = 0 THEN 0
                   ELSE ascii(substr(text,
                     ((k * 3 + 2) % len)::INT + 1, 1)) % 16 END AS nl,
                 CASE WHEN len = 0 THEN 0
                   ELSE ascii(substr(text,
                     ((k * 5 + 4) % len)::INT + 1, 1)) % 16 END AS nr,
                 $ImaStepSql[il + 1] AS sl,
                 $ImaStepSql[ir + 1] AS sr
               FROM steps WHERE k < 64))))
       SELECT doc_id, 130::BIGINT AS n_samples, l_sum::BIGINT AS l_sum,
         r_sum::BIGINT AS r_sum, pl::BIGINT AS l_last,
         pr::BIGINT AS r_last, s_min::BIGINT AS s_min,
         s_max::BIGINT AS s_max
       FROM steps WHERE k = 64 ORDER BY doc_id"""

  final case class StereoAdpcmFeature(doc_id: Long, n_samples: Long,
                                      l_sum: Long, r_sum: Long, l_last: Long,
                                      r_last: Long, s_min: Long, s_max: Long)

  /** Assemble a STEREO IMA ADPCM RIFF/WAVE file holding ONE block:
    * per-channel 4-byte headers, then data in 4-byte (8-nibble) groups
    * alternating L/R, per the public IMA-in-WAVE layout. */
  private def wavImaStereo(sampleRate: Int, predL: Int, idxL: Int,
      predR: Int, idxR: Int, nibL: Array[Int],
      nibR: Array[Int]): Array[Byte] = {
    require(nibL.length == nibR.length && nibL.length % 8 == 0,
      "nibbles per channel must fill whole 8-nibble groups")
    val groups = nibL.length / 8
    val blockAlign = 8 + groups * 8
    val spb = nibL.length + 1
    val b = java.nio.ByteBuffer.allocate(12 + 28 + 8 + blockAlign)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII"))
    b.putInt(4 + 28 + 8 + blockAlign)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII"))
    b.putInt(20)
    b.putShort(0x11); b.putShort(2)
    b.putInt(sampleRate)
    b.putInt(sampleRate * blockAlign / spb)
    b.putShort(blockAlign.toShort); b.putShort(4)
    b.putShort(2); b.putShort(spb.toShort)
    b.put("data".getBytes("US-ASCII"))
    b.putInt(blockAlign)
    b.put((predL & 0xFF).toByte); b.put(((predL >> 8) & 0xFF).toByte)
    b.put(idxL.toByte); b.put(0.toByte)
    b.put((predR & 0xFF).toByte); b.put(((predR >> 8) & 0xFF).toByte)
    b.put(idxR.toByte); b.put(0.toByte)
    var g = 0
    while (g < groups) {
      for (nib <- Seq(nibL, nibR)) {
        var j = 0
        while (j < 4) {
          b.put((nib(g * 8 + 2 * j) | (nib(g * 8 + 2 * j + 1) << 4)).toByte)
          j += 1
        }
      }
      g += 1
    }
    b.array()
  }

  /** m36 — STEREO IMA ADPCM demux + decode: the multi-channel layout
    * m35 left out — per-channel block headers and 4-byte nibble groups
    * alternating L/R, two INDEPENDENT decoder state machines whose
    * outputs interleave. Each document carries one stereo block with
    * the channels fed from DIFFERENT text phases (L: byte(3k+2), R:
    * byte(5k+4), separate initial predictors/indexes from bytes
    * 0–3), so a decoder that crossed the channel states, mis-ordered
    * the groups, or interleaved wrongly breaks the per-channel sums
    * and finals. The oracle advances BOTH state machines in one
    * recursive CTE (depth 64 — the block length, as m35).
    *
    * Scale shape: identical to m35 — two scan-parallel mapPartitions
    * stages, no shuffle before the output sort. */
  def m36_adpcm_stereo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — nibble stream would diverge")
          val b = text.getBytes("US-ASCII")
          val len = b.length
          def at(i: Int): Int = if (len == 0) 0 else b(i % len) & 0xFF
          val predL = if (len == 0) 0 else (at(0) - 64) * 256
          val idxL = if (len == 0) 0 else at(1) % 89
          val predR = if (len == 0) 0 else (at(2) - 64) * 256
          val idxR = if (len == 0) 0 else at(3) % 89
          val nibL = Array.tabulate(64)(k => at(3 * k + 2) % 16)
          val nibR = Array.tabulate(64)(k => at(5 * k + 4) % 16)
          MediaRow(id, wavImaStereo(8000, predL, idxL, predR, idxR,
            nibL, nibR), "ima-adpcm-st")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val au = MediaCodec.decodeAudio(r.payload)
        require(au.channels == 2, s"doc ${r.doc_id}: expected stereo")
        var lSum = 0L; var rSum = 0L
        var mn = Long.MaxValue; var mx = Long.MinValue
        var k = 0
        while (k < au.samples.length) {
          val v = au.samples(k).toLong
          if (k % 2 == 0) lSum += v else rSum += v
          if (v < mn) mn = v
          if (v > mx) mx = v
          k += 1
        }
        StereoAdpcmFeature(r.doc_id, au.samples.length.toLong, lSum, rSum,
          au.samples(au.samples.length - 2).toLong,
          au.samples(au.samples.length - 1).toLong, mn, mx)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class ApngFeature(doc_id: Long, width: Int, height: Int,
                               n_frames: Long, plays: Long, s0: Long,
                               s1: Long, s2: Long, w2: Long)

  /** m37 — ANIMATED PNG (the W3C PNG spec's acTL/fcTL/fdAT extension)
    * decode + COMPOSITION: each document carries a three-frame
    * animation — a full-canvas base plus two SUB-RECTANGLE patch frames
    * at text-derived offsets, each frame its own zlib stream split
    * across two fdAT chunks (reassembly and the shared fcTL/fdAT
    * sequence counter are exercised on every row). The decoder composes
    * the canvas per the dispose/blend rules; features are the per-frame
    * composed-canvas sums plus a position-weighted checksum of the
    * final canvas, so a patch drawn at the wrong offset, with the wrong
    * sub-rectangle stride, or over the wrong prior state breaks the
    * oracle — which replays the composition as pure CASE arithmetic on
    * pixel coordinates. GIF animation (m19) covers multi-frame LZW;
    * APNG covers multi-frame DEFLATE with sub-rect placement, the other
    * animation container a crawl corpus actually carries.
    *
    * Scale shape: identical to m15 — two scan-parallel mapPartitions
    * stages, no shuffle before the output sort. */
  def m37_apng_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — pixel bytes would diverge")
          val b = text.getBytes("US-ASCII")
          val len = b.length
          def at(i: Int): Int = if (len == 0) 0 else b(i % len) & 0xFF
          val w = len % 24 + 2
          val h = (len / 24) % 16 + 2
          val (fw1, fh1) = (math.max(1, w / 2), math.max(1, h / 2))
          val (fw2, fh2) = (math.max(1, w / 3), math.max(1, h / 3))
          val (x1, y1) = (len % (w - fw1 + 1), (len / 3) % (h - fh1 + 1))
          val (x2, y2) = ((len / 5) % (w - fw2 + 1), (len / 7) % (h - fh2 + 1))
          val base = Array.tabulate(w * h)(p => at(p).toByte)
          val p1 = Array.tabulate(fw1 * fh1)(k => at(2 * k + 1).toByte)
          val p2 = Array.tabulate(fw2 * fh2)(k => at(3 * k + 2).toByte)
          MediaRow(id, Png.encodeApng(w, h, 1, Seq(
            Png.ApngFrame(0, 0, w, h, base),
            Png.ApngFrame(x1, y1, fw1, fh1, p1),
            Png.ApngFrame(x2, y2, fw2, fh2, p2))), "apng")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val (plays, frames) = Png.decodeApng(r.payload)
        require(frames.length == 3, s"doc ${r.doc_id}: expected 3 frames")
        def sum(i: Int): Long = {
          var acc = 0L
          val px = frames(i).pixels
          var k = 0
          while (k < px.length) { acc += px(k) & 0xFF; k += 1 }
          acc
        }
        var w2 = 0L
        val last = frames(2).pixels
        var k = 0
        while (k < last.length) { w2 += (last(k) & 0xFF).toLong * (k + 1); k += 1 }
        ApngFeature(r.doc_id, frames(0).width, frames(0).height, 3L,
          plays.toLong, sum(0), sum(1), sum(2), w2)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class G711Feature(doc_id: Long, codec: String, n_samples: Long,
                               s_sum: Long, s_abs: Long, s_last: Long,
                               s_min: Long, s_max: Long)

  /** m38 — G.711 µ-law/A-law WAV decode: the telephony 2:1 companding
    * codecs (ITU-T G.711, format tags 7/6 in RIFF/WAVE), completing the
    * compressed-audio lane next to IMA ADPCM (m35/m36) and FLAC (m26).
    * Unlike ADPCM there is NO decoder state — each 8-bit code expands
    * independently through exact segment/mantissa integer arithmetic —
    * so the DuckDB oracle replays the expansion as plain CASE
    * arithmetic over the same text-derived code stream (no recursive
    * CTE). The corpus is MIXED: even doc_ids are µ-law, odd are A-law,
    * and the decode routes on the sniffed format tag, not the label —
    * a wrong route flips every sample value (the two expansions agree
    * almost nowhere), which s_sum/s_min/s_max pin.
    *
    * Scale shape: identical to m35 — two scan-parallel mapPartitions
    * stages (assemble, decode+reduce), no shuffle before the output
    * sort; one bad payload costs one row, the m31 quarantine posture
    * applies unchanged at 100 TB. */
  def m38_g711_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — code bytes would diverge")
          val b = text.getBytes("US-ASCII")
          val len = b.length
          val codes = Array.tabulate(64) { k =>
            val v = if (len == 0) 0 else b((3 * k + 2) % len) & 0xFF
            ((v * 7 + k) % 256).toByte
          }
          MediaRow(id, MediaCodec.encodeWavG711(8000, codes,
            aLaw = id % 2 == 1), if (id % 2 == 1) "alaw" else "ulaw")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val au = MediaCodec.decodeAudio(r.payload) // sniffed, not trusted
        var sum = 0L; var abs = 0L
        var mn = Long.MaxValue; var mx = Long.MinValue
        var k = 0
        while (k < au.samples.length) {
          val v = au.samples(k).toLong
          sum += v; abs += math.abs(v)
          if (v < mn) mn = v
          if (v > mx) mx = v
          k += 1
        }
        G711Feature(r.doc_id, r.format, au.samples.length.toLong, sum, abs,
          au.samples.last.toLong, mn, mx)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class ExifFeature(doc_id: Long, orientation: Long,
                               out_w: Int, out_h: Int, px_sum: Long,
                               px_wsum: Long, corner: Long)

  /** m39 — EXIF ORIENTATION (JPEG APP1): the metadata rotation phone
    * cameras record instead of rewriting the scan — a real multimodal
    * corpus is dominated by such images, and a pipeline that ignores
    * tag 0x0112 trains on sideways photos. Each document's flat-block
    * gray JPEG gets an APP1 Exif segment spliced after SOI carrying
    * orientation (doc_id % 8) + 1; the decode path must (a) skip the
    * unknown APP1 unharmed, (b) parse the orientation from the
    * little-endian TIFF IFD, and (c) apply the right of the 8
    * transforms. The POSITION-WEIGHTED pixel sum pins the exact remap
    * (any wrong rotation/reflection shifts it); the plain sum pins
    * invariance; the FIRST pixel of the oriented raster pins which
    * corner came first. The oracle replays the weighted sum in closed
    * form per 8×8 block — each transform is affine in (row, col), so
    * the per-block weight sum is exact integer arithmetic, no
    * per-pixel explosion.
    *
    * Scale shape: the m35/m38 two-stage scan-parallel shape; the remap
    * is one in-executor pass over the raster. */
  def m39_exif_orientation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — pixel bytes would diverge")
          val b = text.getBytes("US-ASCII")
          val len = b.length
          val hb = (len / 32) % 16 + 1 // 1..16 block rows of 32×8
          val vals = Array.tabulate(4 * hb)(k =>
            64 + (if (len == 0) 0 else (b((2 * k + 1) % len) & 0xFF) % 128))
          val o = (id % 8 + 1).toInt
          MediaRow(id, Jpeg.spliceApp1(
            Jpeg.encodeGrayFlat(32, 8 * hb, vals, dri = 2),
            Jpeg.encodeApp1Exif(o)), "jpeg-exif")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val img = MediaCodec.decodeImage(r.payload) // APP1 skipped by decode
        val o = Jpeg.exifOrientation(r.payload) // ...but read by the walk
        val up = MediaCodec.applyOrientation(img, o)
        var sum = 0L; var wsum = 0L
        var i = 0
        while (i < up.pixels.length) {
          val v = (up.pixels(i) & 0xFF).toLong
          sum += v; wsum += v * (i + 1)
          i += 1
        }
        ExifFeature(r.doc_id, o.toLong, up.width, up.height, sum, wsum,
          (up.pixels(0) & 0xFF).toLong)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class TgaFeature(doc_id: Long, codec: String, width: Int,
                              height: Int, s_sum: Long, s_wsum: Long,
                              s_min: Long, s_max: Long)

  /** m40 — TGA decode (the magic-less graphics-pipeline format): even
    * doc_ids ship UNCOMPRESSED type 2 bottom-up (the format default),
    * odd doc_ids RLE type 10 top-down — so one corpus exercises both
    * entropy paths AND both row origins through the strict
    * plausibility sniff in [[MediaCodec.decodeImage]] (TGA has no
    * magic bytes; the sniff must not misroute any other format, pinned
    * by MediaCodecSpec). The oracle is CONTAINER-INDEPENDENT: it
    * replays the top-down RGB raster straight from the document bytes,
    * so a bottom-up flip bug, a BGR swap, or an RLE run off-by-one
    * shifts the position-weighted checksum and fails the hash.
    *
    * Scale shape: the m35/m38 two-stage scan-parallel shape. */
  def m40_tga_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — pixel bytes would diverge")
          val b = text.getBytes("US-ASCII")
          val len = b.length
          val w = len % 24 + 2
          val h = (len / 24) % 12 + 2
          val rgb = Array.tabulate(w * h * 3) { k =>
            val v = if (len == 0) 0 else b((5 * k + 7) % len) & 0xFF
            ((v * 3 + k) % 256).toByte
          }
          val rle = id % 2 == 1
          MediaRow(id, Tga.encode(w, h, rgb, rle = rle, topDown = rle),
            if (rle) "tga-rle" else "tga-raw")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val img = MediaCodec.decodeImage(r.payload) // sniffed, not trusted
        var sum = 0L; var wsum = 0L
        var mn = Long.MaxValue; var mx = Long.MinValue
        var i = 0
        while (i < img.pixels.length) {
          val v = (img.pixels(i) & 0xFF).toLong
          sum += v; wsum += v * (i + 1)
          if (v < mn) mn = v
          if (v > mx) mx = v
          i += 1
        }
        TgaFeature(r.doc_id, r.format, img.width, img.height, sum, wsum,
          mn, mx)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  /** m41 — COMPRESSED TIFF decode (LZW ch. 13, PackBits §9, horizontal
    * predictor §14 — the codecs real scientific TIFFs ship with; m22's
    * baseline reader only walked uncompressed strips): per document a
    * deterministic gray raster is encoded with one of three codec
    * combinations by doc_id (LZW + predictor 2, plain LZW, PackBits),
    * alternating byte orders, then decoded through the full IFD walk +
    * strip decompress + predictor undo. Both codecs are exactly-
    * specified integer transforms, so the per-pixel oracle replays the
    * RAW raster from the text — any slip in the bit-unpacker, early
    * width change, KwKwK case, run semantics or predictor accumulation
    * shifts the position-weighted checksum and fails the hash.
    *
    * Scale shape: two scan-parallel mapPartitions stages, zero shuffle
    * before the output sort — decode cost rides the document scan. */
  def m41_tiff_compressed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — pixel bytes would diverge")
          val b = text.getBytes("US-ASCII")
          val len = b.length
          val w = len % 20 + 3
          val h = (len / 20) % 10 + 3
          val gray = Array.tabulate(w * h) { k =>
            val v = if (len == 0) 0 else b((3 * k + 5) % len) & 0xFF
            ((v * 5 + k) % 256).toByte
          }
          val (comp, pred, codec) = (id % 3).toInt match {
            case 0 => (5, 2, "lzw-pred")
            case 1 => (5, 1, "lzw")
            case _ => (32773, 1, "packbits")
          }
          MediaRow(id,
            Tiff.encodeGrayC(w, h, gray, bigEndian = id % 2 == 0, comp, pred),
            codec)
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val d = Tiff.decode(r.payload)
        var sum = 0L; var wsum = 0L
        var mn = Long.MaxValue; var mx = Long.MinValue
        var i = 0
        while (i < d.image.pixels.length) {
          val v = (d.image.pixels(i) & 0xFF).toLong
          sum += v; wsum += v * (i + 1)
          if (v < mn) mn = v
          if (v > mx) mx = v
          i += 1
        }
        TgaFeature(r.doc_id, r.format, d.image.width, d.image.height,
          sum, wsum, mn, mx)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class AiffStats(doc_id: Long, codec: String, sample_rate: Long,
                             n_samples: Long, zcr: Long, energy: Long,
                             peak: Long)

  /** m42 — AIFF / AIFF-C audio (the big-endian IFF sibling of WAV that
    * scientific and broadcast archives ship): per document a
    * deterministic 16-bit signal is containerized as plain AIFF
    * (big-endian PCM, mono) or AIFF-C 'sowt' (little-endian PCM,
    * stereo-interleaved) by doc_id, with the sample rate cycling
    * 8000/22050/44100 so the COMM chunk's 80-bit EXTENDED-float rate
    * field — the format's one exotic scalar — is decoded on every row
    * and pinned by the oracle (a wrong exponent bias or mantissa shift
    * shifts every rate). Decode runs the real chunk walk (FORM type,
    * FVER skip, COMM, SSND offset) through [[MediaCodec.decodeAudio]]'s
    * magic sniff; features are the m05 trio over the decoded samples.
    *
    * Scale shape: two scan-parallel mapPartitions stages, zero shuffle
    * before the output sort (the m05/m38 audio idiom). */
  /** m43 — MP3 container BOOKS without decode (ID3v2 skip + MPEG-1
    * Layer III frame-header walk, [[graft.sources.Mp3]]): the
    * audio-corpus bookkeeping pass — frame counts, exact-integer
    * durations (μs, the spec's own 1152-samples-per-frame arithmetic),
    * byte volumes — that a 100 TB ingest runs on every file long
    * before any DSP. Each document encodes a deterministic container
    * (id-derived ID3 payload size, frame count, per-frame bitrate
    * index cycle and padding cadence) and the parser must walk it back
    * exactly: the oracle replays frame lengths per the spec formula
    * (144·bitrate/samplerate + padding, integer division) as a
    * correlated range sum, so an off-by-one in any frame advances the
    * walk into a sync error or shifts the byte books.
    *
    * Scale shape: pure per-row byte work, scan-parallel, no shuffle
    * before the output sort (the media-family shape). */
  def m43_mp3_books(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Mp3
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val nf = 30 + (id % 50).toInt
          val sr = (id % 3).toInt
          val frames = (0 until nf).map(j =>
            (1 + ((id + j) % 14).toInt, sr, (id + j) % 2 == 1))
          val b = Mp3.parse(Mp3.encode(40 + (id % 60).toInt, frames))
          (id, b.nFrames, b.durationUs, b.nBytes)
        }
      }
      .toDF("doc_id", "n_frames", "duration_us", "n_bytes")
      .orderBy("doc_id")
  }

  /** m44 — ISO-BMFF / MP4 container books without decode (from-spec box
    * walk, [[graft.sources.Mp4]], ISO/IEC 14496-12 §4.2): box counts,
    * movie duration in exact-integer ms, track counts split by handler
    * type, mdat payload volume. Each document encodes a deterministic
    * movie skeleton (id-derived timescale/duration, 1–3 alternating
    * vide/soun tracks, optional free box, and an mdat cycling through
    * the three legal size encodings — 32-bit, 64-bit largesize,
    * size-0-to-EOF) and the walk must balance it back exactly: the
    * oracle replays the fixed box layout (ftyp 24, mvhd 108, trak 173)
    * as closed-form integer arithmetic, so an off-by-one in any header
    * length or a mishandled largesize shifts the books.
    *
    * Scale shape: pure per-row byte work, scan-parallel, no shuffle
    * before the output sort (the media-family shape). */
  def m44_mp4_books(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val ts = (id % 3) match {
            case 0 => 600L; case 1 => 1000L; case _ => 90000L
          }
          val dur = 1000L + id % 100000L
          val nt = 1 + (id % 3).toInt
          val fp = if (id % 4 == 0) (id % 50).toInt else -1
          val mp = 100 + (id % 900).toInt
          val mm = if (id % 5 == 0) 1 else if (id % 7 == 0) 2 else 0
          val b = Mp4.parse(Mp4.encode(ts, dur, nt, fp, mp, mm))
          (id, b.nBoxes, b.timescale, b.durationMs, b.nVideo, b.nAudio,
            b.mdatBytes, b.nBytes)
        }
      }
      .toDF("doc_id", "n_boxes", "timescale", "duration_ms", "n_video",
        "n_audio", "mdat_bytes", "n_bytes")
      .orderBy("doc_id")
  }

  /** m45 — Ogg container books without decode (from-spec page walk,
    * [[graft.sources.Ogg]], RFC 3533): page/packet counts, final
    * granule position, payload volume — with EVERY page CRC verified
    * (the non-reflected 0x04c11db7 CRC over the page with the CRC
    * field zeroed, §6). Each document encodes a deterministic stream
    * (id-derived page count, per-page packet sizes crossing the 255
    * lacing boundary, and on a quarter of the docs a 300-byte packet
    * SPANNING two pages under the continuation flag) and the walk must
    * balance it back exactly: the oracle replays the lacing arithmetic
    * (⌊n/255⌋ 255-values + final remainder) closed-form, so an
    * off-by-one in lacing, a mis-laid header field, or a CRC bug
    * (parse rejects the page) shifts the books or fails the row.
    *
    * Scale shape: pure per-row byte work, scan-parallel, no shuffle
    * before the output sort (the media-family shape). */
  def m45_ogg_books(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Ogg
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val np = 2 + (id % 5).toInt
          val g = 1 + id % 100
          val pages = (0 until np).map { j =>
            val k = 1 + ((id + j) % 3).toInt
            Ogg.Page((j + 1) * g * 48L,
              (0 until k).map(i => 20 + ((id + 13L * j + 7L * i) % 290).toInt))
          }
          val b = Ogg.parse(Ogg.encode(id, pages, span = id % 4 == 0))
          (id, b.nPages, b.nPackets, b.lastGranule, b.payloadBytes, b.nBytes)
        }
      }
      .toDF("doc_id", "n_pages", "n_packets", "last_granule",
        "payload_bytes", "n_bytes")
      .orderBy("doc_id")
  }

  /** m46 — Matroska / EBML container books without decode (from-spec
    * varint walk, [[graft.sources.Ebml]], RFC 8794): element / cluster
    * / SimpleBlock counts, last cluster timestamp, block payload
    * volume. Each document encodes a deterministic matroska skeleton
    * (id-derived cluster/block structure; a third of the docs frame the
    * Segment with the 1-byte all-ones UNKNOWN-size varint — the
    * streamed-file shape) and the walk must balance it back exactly:
    * the oracle replays the fixed framing (header 23, info 15, cluster
    * 13, block 7 + payload) closed-form, so a varint-length bug or a
    * mishandled unknown-size scope shifts the books.
    *
    * Scale shape: pure per-row byte work, scan-parallel, no shuffle
    * before the output sort (the media-family shape). */
  def m46_mkv_books(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Ebml
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val nc = 1 + (id % 4).toInt
          val tsu = 10 + id % 90
          val clusters = (0 until nc).map { c =>
            val nb = 1 + ((id + c) % 3).toInt
            Ebml.Cluster(c * tsu,
              (0 until nb).map(b => 10 + ((id + 17L * c + 5L * b) % 120).toInt))
          }
          val books = Ebml.parse(Ebml.encode(clusters, id % 3 == 0))
          (id, books.nElements, books.nClusters, books.nBlocks,
            books.lastClusterTs, books.blockBytes, books.nBytes)
        }
      }
      .toDF("doc_id", "n_elements", "n_clusters", "n_blocks",
        "last_cluster_ts", "block_bytes", "n_bytes")
      .orderBy("doc_id")
  }

  /** m47 — WebP container books without decode (from-spec RIFF/chunk
    * walk, [[graft.sources.Webp]], RFC 9649 + the RFC 6386 key-frame
    * header): variant, canvas dimensions, alpha flag, chunk / frame
    * counts, byte volume. Each document encodes one of the three
    * stored shapes — simple lossy VP8 (start-code + 14-bit dims +
    * validated first-partition size), simple lossless VP8L (0x2F
    * signature, bit-packed dims/alpha/version), or extended
    * VP8X + ANIM + per-frame ANMF with an embedded VP8L bitstream —
    * with id-derived trailing partition bytes so odd chunk sizes
    * exercise RIFF's pad rule. The oracle replays the chunk framing
    * closed-form, so a pad-byte bug, a bit-unpack error, or a
    * mis-walked nested frame shifts the books.
    *
    * Scale shape: pure per-row byte work, scan-parallel, no shuffle
    * before the output sort (the media-family shape). */
  def m47_webp_books(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Webp
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val v = (id % 3).toInt
          val w = 16 + (id % 300).toInt
          val h = 16 + (id % 200).toInt
          val nf = 2 + (id % 3).toInt
          val b = Webp.parse(Webp.encode(v, w, h, id % 2 == 1, nf,
            f => ((id + 3L * f) % 7).toInt))
          (id, b.variant, b.width, b.height, b.hasAlpha, b.nChunks,
            b.nFrames, b.nBytes)
        }
      }
      .toDF("doc_id", "variant", "width", "height", "has_alpha",
        "n_chunks", "n_frames", "n_bytes")
      .orderBy("doc_id")
  }

  /** m48 — SRT subtitle/caption books (from-spec cue walk,
    * [[graft.sources.Srt]]): cue counts, exact-integer duration
    * totals, text character volume — the caption-alignment ingest pass
    * a video training pipeline runs over every subtitle sidecar. Each
    * document encodes a deterministic cue sheet (id-derived cue count,
    * start/duration arithmetic, 1–2 text lines); every sixth document
    * carries a cue with an UNPARSEABLE timing line, which the walk
    * must QUARANTINE with exact accounting (text skipped, `n_bad`
    * incremented — the qn13 malformed-record discipline) rather than
    * fail the file. The oracle replays the cue arithmetic and the
    * rendered byte layout closed-form, so a timestamp-parse bug, a
    * mis-skipped quarantine block, or an off-by-one in the fixed-width
    * timing line shifts the books.
    *
    * Scale shape: pure per-row string work, scan-parallel, no shuffle
    * before the output sort (the media-family shape). */
  def m48_srt_books(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Srt
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val nc = 2 + (id % 5).toInt
          val cues = (0 until nc).map { i =>
            val ls = Seq(s"cue $id $i") ++
              (if ((id + i) % 2 == 0) Seq("line two") else Nil)
            Srt.Cue(i * (2000L + id % 1000), 500L + (id + 31L * i) % 2500,
              ls, malformTiming = i == 0 && id % 6 == 0)
          }
          val b = Srt.parse(Srt.encode(cues))
          (id, b.nCues, b.nBad, b.totalDurMs, b.nChars, b.nBytes)
        }
      }
      .toDF("doc_id", "n_cues", "n_bad", "total_dur_ms", "n_chars",
        "n_bytes")
      .orderBy("doc_id")
  }

  /** m49 — ZIP archive books (from-spec central-directory walk,
    * [[graft.sources.Zip]], PKWARE APPNOTE): the epub/docx/jar front
    * door. Each document packs its text and an id-derived binary
    * sidecar as STORED entries in one per-document archive; every 31st
    * document's text entry carries a deliberately wrong stored CRC-32.
    * The walk is central-directory-first (backward EOCD scan, the way
    * a correct reader must operate), cross-checks every central entry
    * against its local header, and re-derives each entry's reflected
    * CRC-32 (0xEDB88320, APPNOTE §4.4.7) — quarantining mismatches
    * entry-by-entry. The oracle replays the fixed record layout
    * (local 30+name, central 46+name, EOCD 22) closed-form, so a
    * field-offset bug, a mis-sized directory, or a CRC error shifts
    * the books.
    *
    * Scale shape: pure per-row byte work, scan-parallel, no shuffle
    * before the output sort (the media-family shape). */
  def m49_zip_books(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Zip
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — entry bytes would diverge from chars")
          val bin = Array.tabulate(50 + (id % 200).toInt)(i =>
            ((i * 11 + id) & 0xFF).toByte)
          val buf = Zip.encode(Seq(
            Zip.Entry(s"doc$id.txt", text.getBytes("US-ASCII"),
              breakCrc = id % 31 == 0),
            Zip.Entry(s"doc$id.bin", bin)))
          val ms = Zip.walk(buf)
          (id, ms.length.toLong, ms.map(_.size).sum,
            ms.count(!_.crcOk).toLong, buf.length.toLong)
        }
      }
      .toDF("doc_id", "n_entries", "payload_bytes", "n_crc_bad", "n_bytes")
      .orderBy("doc_id")
  }

  /** m50 — PDF skeleton books (from-spec end-first walk,
    * [[graft.sources.Pdf]], ISO 32000-1 file structure): the
    * document-corpus front door. Each document encodes a strict
    * fixture PDF (id-derived version, 2–5 objects, one stream object)
    * and the walk resolves it the way a conforming reader must — last
    * `startxref` → classic xref table (20-byte entries) → per-entry
    * offset CROSS-CHECK against the `<num> 0 obj` target; every 23rd
    * document carries one stale entry, quarantined per entry (readers
    * rebuild rotten tables, they don't die). The oracle replays the
    * rendered layout closed-form — digit-width arithmetic included —
    * so an off-by-one anywhere in the fixed grammar shifts the books.
    *
    * Scale shape: pure per-row byte work, scan-parallel, no shuffle
    * before the output sort (the media-family shape). */
  def m50_pdf_books(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Pdf
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val b = Pdf.parse(Pdf.encode(4 + (id % 3).toInt, 2 + (id % 4).toInt,
            20 + (id % 150).toInt, id, breakEntry2 = id % 23 == 0))
          (id, b.versionMinor, b.nObjects, b.nXrefBad, b.streamBytes,
            b.nBytes)
        }
      }
      .toDF("doc_id", "version_minor", "n_objects", "n_xref_bad",
        "stream_bytes", "n_bytes")
      .orderBy("doc_id")
  }

  def m42_aiff_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          // the encode must see one byte per char: getBytes("US-ASCII")
          // silently folds non-ASCII to '?' (63) and would diverge — fail
          // loud instead of producing a wrong-but-plausible feature row
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — sample bytes would diverge from code points")
          val bytes = text.getBytes("US-ASCII")
          val stereo = id % 2 == 1
          val n = if (stereo) bytes.length - (bytes.length % 2)
                  else bytes.length
          val samples = Array.tabulate(n)(i =>
            (((bytes(i) & 0xFF) - 100) * 96).toShort)
          val rate = (id % 3) match {
            case 0 => 8000
            case 1 => 22050
            case _ => 44100
          }
          if (stereo)
            MediaRow(id, Aiff.encode(rate, 2, samples, sowt = true),
              "aifc-sowt")
          else MediaRow(id, Aiff.encode(rate, 1, samples), "aiff")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val audio = MediaCodec.decodeAudio(r.payload) // sniffed, not trusted
        val a = audio.samples
        var zcr = 0L; var energy = 0L; var peak = 0L
        var i = 0
        while (i < a.length) {
          val v = a(i).toLong
          energy += v * v
          if (math.abs(v) > peak) peak = math.abs(v)
          if (i > 0 && ((a(i - 1) < 0) != (v < 0))) zcr += 1
          i += 1
        }
        AiffStats(r.doc_id, r.format, audio.sampleRate.toLong,
          a.length.toLong, zcr, energy, peak)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class JpegAcRow(doc_id: Long, width: Int, height: Int,
                             n_blocks: Long, px_sum: Long, px_wsum: Long,
                             px_min: Long, px_max: Long)

  /** m17 — JPEG with REAL AC content under the oracle: every 8×8 block
    * carries the fixed quantized AC texture [[Jpeg.AcPatternCoefs]] on
    * top of its flat DC value, so the decode exercises the full
    * Huffman-AC run-length / dequant / IDCT chain — and stays
    * bit-predictable, because round(v + p) = v + round(p) for integer
    * v: the irrational AC contribution collapses to ONE integer LUT
    * ([[Jpeg.AcPatternPixels]]) computed once and embedded verbatim in
    * both engines (the c08 ndcgDisc pattern). The AC texture sums to
    * zero, so the plain pixel sum alone could not see it — the
    * POSITION-WEIGHTED checksum Σ pixel·(inBlockPos+1) pins every LUT
    * cell in place (a transposed IDCT, wrong zigzag or dropped run
    * shifts it), and min/max pin the extremes. DC values sit in
    * [64, 191] so no pixel clamps.
    *
    * Scale shape: identical to m14 — two scan-parallel mapPartitions
    * stages, no shuffle before the output sort. */
  def m17_jpeg_ac_texture(s: SparkSession, dir: String): DataFrame =
    jpegTexture(s, dir, progressive = false)

  /** m25 — the m17 texture workload through the PROGRESSIVE (SOF2)
    * decode chain: six scans (DC successive approximation + two
    * spectral-selection AC bands, each refined Al=1→0) reconstruct the
    * same raster baseline produces, so the two containers share one
    * oracle — which is precisely the claim: a progressive-dominated
    * real-world corpus decodes to the same features as sequential.
    * Payload differs (SOF2, EOB runs, refinement bits); every feature
    * value must not. */
  def m25_jpeg_progressive(s: SparkSession, dir: String): DataFrame =
    jpegTexture(s, dir, progressive = true)

  private def jpegTexture(s: SparkSession, dir: String,
                          progressive: Boolean): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — pixel bytes would diverge from code points")
          val bytes = text.getBytes("US-ASCII")
          val len = bytes.length
          val hb = (len / 32) % 16 + 1
          val vals = Array.tabulate(4 * hb)(k =>
            64 + (if (len == 0) 0 else (bytes(k % len) & 0xFF) % 128))
          if (progressive)
            MediaRow(id, Jpeg.encodeGrayTexturedProgressive(32, 8 * hb, vals),
              "jpeg-prog")
          else
            MediaRow(id, Jpeg.encodeGrayTextured(32, 8 * hb, vals, dri = 2),
              "jpeg-ac")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val img = MediaCodec.decodeImage(r.payload)
        val (w, h) = (img.width, img.height)
        var sum = 0L; var wsum = 0L
        var mn = 255L; var mx = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = (img.pixels(y * w + x) & 0xFF).toLong
            sum += v
            wsum += v * ((y % 8) * 8 + (x % 8) + 1)
            if (v < mn) mn = v
            if (v > mx) mx = v
            x += 1
          }
          y += 1
        }
        JpegAcRow(r.doc_id, w, h, (w / 8).toLong * (h / 8), sum, wsum, mn, mx)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class VadRow(doc_id: Long, n_frames: Long, n_voiced: Long,
                          n_segments: Long, longest_seg: Long,
                          voiced_fp: Long)

  /** m12 — voice-activity segmentation (VAD) over the decoded PCM16
    * stream: the speech-corpus prep step that cuts raw audio into
    * voiced segments before transcription/alignment. Frames of 32
    * samples; a frame is voiced when its mean |amplitude| ≥ 3072
    * (sum ≥ 3072·n for the partial tail frame, so the rule is
    * length-invariant); consecutive voiced frames merge into segments.
    * Per clip: frame/voiced counts, segment count, longest segment and
    * the voiced share at 1e-6 fixed point.
    *
    * Payload rides m02's real RIFF/WAVE encode→decode; the island merge
    * runs INSIDE the per-row decode loop (sequential state over ~len/32
    * frames), so unlike d21's cross-document islands no shuffle exists
    * at all — the DuckDB oracle replays the same islands relationally
    * (unnest + lag window) as an independent formulation.
    *
    * Scale shape: scan-parallel mapPartitions, one decoder + one O(n)
    * loop per row; 100 TB of audio runs at decode speed. */
  def m12_vad_segments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val frameLen = 32
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes("US-ASCII")
          val samples = Array.tabulate(bytes.length)(i =>
            (((bytes(i) & 0xFF) - 96) * 128).toShort)
          // odd ids ship FLAC, even ids WAV (the m08 mixed-corpus seam):
          // lossless decode means identical PCM either way, so the VAD
          // arithmetic and the oracle are container-blind
          if (id % 2 == 1)
            MediaRow(id, graft.sources.Flac.encode(8000, 1, samples), "flac")
          else MediaRow(id, MediaCodec.encodeWav(8000, samples), "wav16")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val audio = MediaCodec.decodeAudio(r.payload)
        val n = audio.samples.length
        val nFrames = (n + frameLen - 1) / frameLen
        var voiced = 0L
        var segments = 0L
        var longest = 0L
        var run = 0L
        var f = 0
        while (f < nFrames) {
          val until = math.min(f * frameLen + frameLen, n)
          val cnt = until - f * frameLen
          var sum = 0L
          var i = f * frameLen
          while (i < until) {
            sum += math.abs(audio.samples(i).toLong)
            i += 1
          }
          if (sum >= 3072L * cnt) {
            voiced += 1
            if (run == 0) segments += 1
            run += 1
            if (run > longest) longest = run
          } else run = 0
          f += 1
        }
        VadRow(r.doc_id, nFrames.toLong, voiced, segments, longest,
          if (nFrames == 0) 0L else voiced * 1000000L / nFrames)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class ShotFeature(doc_id: Long, n_frames: Long,
                               sad_total: Long, max_sad: Long,
                               n_cuts: Long, n_shots: Long)

  /** m13 — video shot-boundary detection: each clip (m07's multi-frame
    * PGM container, with a 3-frame "shot" structure synthesized into
    * the pixel map so cuts exist to find) is segmented by the classic
    * adaptive-threshold rule — a transition is a CUT iff its
    * sum-of-absolute-differences exceeds 1.5× the clip's mean
    * transition SAD (integer cross-multiplied, no division). Shot
    * boundaries are the unit video dedup/sampling works on: frame
    * sampling (m02) wants one frame PER SHOT, not per second, and
    * near-dup detection compares shot signatures, not raw frames.
    *
    * Scale shape: identical to m07 — one scan-parallel codec pass, one
    * decoder per partition, O(frames·pixels) per row, no shuffle. The
    * DuckDB oracle replays pixels from the document bytes and never
    * sees the container, so frame framing/geometry errors fail the
    * hash. */
  def m13_shot_boundary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes("US-ASCII")
        val len = bytes.length
        val f = len % 6 + 2
        val payload = (0 until f).map { fr =>
          // shot g = fr/3 jumps the byte base by 11; the +fr term adds
          // within-shot jitter so the threshold does real work
          val gray = Array.tabulate(16)(p =>
            if (len == 0) 0.toByte
            else bytes(((fr / 3) * 11 + 3 * p + fr) % len))
          MediaCodec.encodePgm(4, 4, gray)
        }.reduce(_ ++ _)
        MediaRow(id, payload, "mpgm")
      })
    media.mapPartitions(_.map { r =>
      val frames = MediaCodec.decodePgmFrames(r.payload)
      val n = frames.length
      val sads = Array.tabulate(n - 1) { t =>
        val a = frames(t).pixels
        val b = frames(t + 1).pixels
        var sd = 0L
        var p = 0
        while (p < b.length) {
          sd += math.abs((b(p) & 0xFF) - (a(p) & 0xFF))
          p += 1
        }
        sd
      }
      val total = sads.sum
      val cuts = sads.count(sd => sd * (n - 1) * 2 > 3 * total).toLong
      ShotFeature(r.doc_id, n.toLong, total,
        if (sads.isEmpty) 0L else sads.max, cuts, cuts + 1L)
    }).toDF()
      .orderBy("doc_id")
  }

  final case class GifFeature(doc_id: Long, width: Int, height: Int,
                              n_px: Long, lum_sum: Long, pos_wsum: Long,
                              px_min: Long, px_max: Long)

  /** m18 — GIF features: the lossless LZW container under the per-pixel
    * oracle, completing the real-world codec trio (JPEG m14/m17, PNG
    * m15). Each document renders a gray raster with a 7-stride byte
    * map (stride ⊥ the LZW dictionary: adjacent pixels are text bytes
    * 7 apart, so dictionary entries form across word boundaries), is
    * encoded by the REAL LZW compressor and decoded back through the
    * sniffing [[graft.sources.MediaCodec.decodeImage]] path. The
    * POSITION-WEIGHTED checksum Σ gray·(p+1) pins the decoded pixel
    * ORDER — a swapped LZW run, an off-by-one width change or a
    * misplaced clear-reset shifts it even when the plain sum survives —
    * and the luma sum over all three channels pins the palette
    * expansion (gray ramp ⇒ lum = 256·index exactly).
    *
    * Scale shape: identical to m14/m15 — two scan-parallel
    * mapPartitions stages, no shuffle before the output sort; at
    * 100 TB the codec cost rides the scan. */
  def m18_gif_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — pixel bytes would diverge from code points")
          val bytes = text.getBytes("US-ASCII")
          val len = bytes.length
          val w = len % 48 + 4
          val h = (len / 48) % 32 + 4
          val px =
            if (len == 0) new Array[Byte](w * h)
            else Array.tabulate(w * h)(p => bytes((7 * p) % len))
          MediaRow(id, graft.sources.Gif.encodeGray(w, h, px), "gif")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val img = MediaCodec.decodeImage(r.payload) // sniffed, not trusted
        val n = img.width * img.height
        var lum = 0L; var ws = 0L; var mn = 256L; var mx = -1L
        var p = 0
        while (p < n) {
          val g = img.pixels(3 * p) & 0xFF
          lum += 77L * g + 150L * (img.pixels(3 * p + 1) & 0xFF) +
            29L * (img.pixels(3 * p + 2) & 0xFF)
          ws += g.toLong * (p + 1)
          if (g < mn) mn = g
          if (g > mx) mx = g
          p += 1
        }
        GifFeature(r.doc_id, img.width, img.height, n.toLong, lum, ws, mn, mx)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class GifAnimFeature(doc_id: Long, n_frames: Long,
                                  n_sampled: Long, lum_total: Long,
                                  motion_sad: Long, f0_wsum: Long)

  /** m19 — animated-GIF frame sampling: the GIF twin of m02's motion-PGM
    * walk, but through a REAL container — one LZW round per frame,
    * graphic-control extensions between frames, trailer-terminated.
    * Every 2nd frame is sampled (the standard stride-sampling shape for
    * video corpora), and the features pin three independent layers:
    * frame COUNT (container walk), per-frame pixel content (lum total +
    * frame-0 position-weighted sum), and cross-frame motion (SAD between
    * consecutive sampled frames — any frame mixup or off-by-one in the
    * multi-image walk shifts it).
    *
    * Scale shape: scan-parallel mapPartitions ×2, no shuffle; at 100 TB
    * the per-row cost is frames × LZW, riding the scan like m18. */
  def m19_gif_frames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — pixel bytes would diverge from code points")
          val bytes = text.getBytes("US-ASCII")
          val len = bytes.length
          val w = len % 24 + 4
          val h = (len / 24) % 16 + 4
          val n = len % 5 + 2
          val frames = (0 until n).map { f =>
            if (len == 0) new Array[Byte](w * h)
            else Array.tabulate(w * h)(p => bytes((p + 11 * f) % len))
          }
          MediaRow(id, graft.sources.Gif.encodeGrayFrames(w, h, frames), "gif-anim")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val frames = graft.sources.Gif.decodeFrames(r.payload)
        def gray(img: MediaCodec.Image, p: Int): Int = img.pixels(3 * p) & 0xFF
        val sampled = frames.indices.filter(_ % 2 == 0)
        val n = frames.head.width * frames.head.height
        var lum = 0L
        sampled.foreach { f =>
          var p = 0; while (p < n) { lum += gray(frames(f), p); p += 1 }
        }
        var sad = 0L
        sampled.sliding(2).foreach {
          case Seq(a, b) =>
            var p = 0
            while (p < n) {
              sad += math.abs(gray(frames(a), p) - gray(frames(b), p)); p += 1
            }
          case _ =>
        }
        var ws = 0L
        var p = 0
        while (p < n) { ws += gray(frames(0), p).toLong * (p + 1); p += 1 }
        GifAnimFeature(r.doc_id, frames.length.toLong, sampled.length.toLong,
          lum, sad, ws)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class WhtBands(doc_id: Long, n_windows: Long, band0: Long,
                            band1: Long, band2: Long, band3: Long)

  /** m20 — Walsh–Hadamard spectrogram: the exact-integer twin of an FFT
    * spectrogram over the decoded PCM stream (m05's WAV path). The
    * signal is framed into 16-sample windows (tail dropped), each window
    * goes through a 16-point fast WHT (natural Hadamard order,
    * `X_k = Σ_i s_i·(−1)^popcount(k AND i)` — butterfly, O(n log n),
    * ±1 coefficients so everything stays in exact BIGINT arithmetic; no
    * trig, no rounding drift for the oracle to chase), and coefficient
    * energies Σ X_k² are accumulated into 4 bands of 4 consecutive
    * natural-order coefficients. Parseval (Σ_k X_k² = 16·Σ_i s_i²) pins
    * the butterfly in the spec. This is the standard audio-triage
    * front-end (speech/music/noise banding) for a multimodal corpus,
    * with the transform chosen so the DuckDB oracle replays it bit-for-
    * bit from the document bytes.
    *
    * Scale shape: scan-parallel mapPartitions ×2 (encode → decode+WHT),
    * zero shuffle; per-row cost is windows×16·log 16 adds. Magnitudes:
    * |s| ≤ 8192 ⇒ |X_k| ≤ 131072 ⇒ band sums ≤ ~2.4e12 per doc — far
    * inside BIGINT even at 100 TB document lengths (bands are per-doc,
    * not global). Reference semantics: oph_dump/array FFT family
    * (reference primitives list), re-expressed with the integer-exact
    * transform. */
  def m20_wht_spectrogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes("US-ASCII")
          val samples = Array.tabulate(bytes.length)(i =>
            (((bytes(i) & 0xFF) - 96) * 128).toShort)
          // odd ids ship FLAC, even ids WAV — the m08 mixed-corpus seam
          if (id % 2 == 1)
            MediaRow(id, Flac.encode(8000, 1, samples), "flac")
          else MediaRow(id, MediaCodec.encodeWav(8000, samples), "wav16")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val a = MediaCodec.decodeAudio(r.payload).samples
        val nw = a.length / 16
        val buf = new Array[Long](16)
        val bands = new Array[Long](4)
        var w = 0
        while (w < nw) {
          var i = 0
          while (i < 16) { buf(i) = a(16 * w + i).toLong; i += 1 }
          // in-place fast WHT butterfly → natural Hadamard order
          var len = 1
          while (len < 16) {
            var base = 0
            while (base < 16) {
              var j = base
              while (j < base + len) {
                val x = buf(j); val y = buf(j + len)
                buf(j) = x + y; buf(j + len) = x - y
                j += 1
              }
              base += 2 * len
            }
            len *= 2
          }
          i = 0
          while (i < 16) { bands(i / 4) += buf(i) * buf(i); i += 1 }
          w += 1
        }
        WhtBands(r.doc_id, nw.toLong, bands(0), bands(1), bands(2), bands(3))
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class FlacFeature(doc_id: Long, n_samples: Long,
                               n_frames: Long, ch_mode: Long, amp_l: Long,
                               amp_r: Long, csum_l: Long, csum_r: Long)

  /** m26 — FLAC stereo ingest through the REAL from-spec codec
    * ([[graft.sources.Flac]], RFC 9639): per document a stereo clip
    * (left = the m05 sample synthesis, right = the same samples
    * REVERSED — so the two channels genuinely differ and every
    * inter-channel mode has nonzero side data), encoded with the
    * channel assignment cycling by doc_id%4 (independent / left-side /
    * right-side / mid-side), wasted-bits coding for doc_id%3==0, and
    * the encoder's per-frame strategy cycle (verbatim / fixed / LPC /
    * rice / rice2 / escape partitions). Decode sniffs magic bytes
    * ([[MediaCodec.decodeAudio]]) and the decoder itself verifies
    * frame CRCs and the STREAMINFO MD5 — every row is a proven
    * lossless round trip. Features are exact integers the oracle
    * replays from the document bytes with zero FLAC knowledge: per
    * channel Σ|s| and the position-weighted Σ(i+1)·sᵢ (which any
    * residual/warmup misalignment, channel swap or reconstruction
    * error shifts).
    *
    * Scale shape: two scan-parallel mapPartitions stages (encode |
    * decode+reduce), one codec instance per partition, no shuffle
    * before the output sort — the m01–m08 posture; 100 TB of FLAC
    * decodes at scan speed. */
  def m26_flac_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes("US-ASCII")
          val n = bytes.length
          val inter = new Array[Short](2 * n)
          var i = 0
          while (i < n) {
            inter(2 * i) = (((bytes(i) & 0xFF) - 96) * 128).toShort
            inter(2 * i + 1) = (((bytes(n - 1 - i) & 0xFF) - 96) * 128).toShort
            i += 1
          }
          MediaRow(id, Flac.encode(8000, 2, inter, mode = (id % 4).toInt,
            wastedBits = if (id % 3 == 0) 7 else 0), "flac")
        }
      }
    media.mapPartitions { it =>
      it.map { r =>
        val a = MediaCodec.decodeAudio(r.payload).samples
        val n = a.length / 2
        var ampL = 0L; var ampR = 0L; var csL = 0L; var csR = 0L
        var i = 0
        while (i < n) {
          val l = a(2 * i).toLong
          val rr = a(2 * i + 1).toLong
          ampL += math.abs(l); ampR += math.abs(rr)
          csL += (i + 1) * l; csR += (i + 1) * rr
          i += 1
        }
        FlacFeature(r.doc_id, n.toLong, ((n + 255) / 256).toLong,
          r.doc_id % 4, ampL, ampR, csL, csR)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  final case class MjpegShot(doc_id: Long, n_frames: Long, width: Long,
                             height: Long, fps: Long, sad_total: Long,
                             max_sad: Long, n_cuts: Long, n_shots: Long)

  /** m27 — shot-boundary detection over MJPEG-in-AVI, the m13 operator
    * pointed at a container that exists in the wild: each document
    * becomes a 2–7 frame 16×16 MJPEG video (every `00dc` chunk a REAL
    * baseline JPEG from [[graft.sources.Jpeg]], inside the REAL RIFF/
    * AVI layout from [[graft.sources.Avi]] — avih/strh/strf headers,
    * movi walk, idx1 verified on decode). Frame f's four 8×8 blocks
    * carry m13's shot structure (base jump of 11 every 3 frames +
    * within-shot jitter), flat blocks decode bit-exactly, so the
    * cross-frame SAD and the adaptive-threshold cut rule
    * (sad·(n−1)·2 > 3·total) replay in the oracle from the document
    * bytes with zero container knowledge; container geometry and fps
    * come from the parsed headers and are pinned as constants.
    *
    * Scale shape: the m07/m13 posture — two scan-parallel mapPartitions
    * stages, one container+JPEG decode per row, O(frames·pixels) work,
    * no shuffle before the output sort. */
  def m27_mjpeg_shots(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes("US-ASCII")
        val len = bytes.length
        val nf = len % 6 + 2
        val frames = (0 until nf).map { fr =>
          val vals = Array.tabulate(4)(k =>
            if (len == 0) 0
            else bytes(((fr / 3) * 11 + 3 * k + fr) % len) & 0xFF)
          Jpeg.encodeGrayFlat(16, 16, vals)
        }
        MediaRow(id, Avi.encodeMjpeg(frames, 16, 16, 10), "avi")
      })
    media.mapPartitions(_.map { r =>
      val v = Avi.decodeMjpeg(r.payload)
      val n = v.frames.length
      val sads = Array.tabulate(n - 1) { t =>
        val a = v.frames(t).pixels
        val bp = v.frames(t + 1).pixels
        var sd = 0L
        var p = 0
        while (p < bp.length) {
          sd += math.abs((bp(p) & 0xFF) - (a(p) & 0xFF))
          p += 1
        }
        sd
      }
      val total = sads.sum
      val cuts = sads.count(sd => sd * (n - 1) * 2 > 3 * total).toLong
      MjpegShot(r.doc_id, n.toLong, v.width.toLong, v.height.toLong,
        v.fps.toLong, total, if (sads.isEmpty) 0L else sads.max, cuts,
        cuts + 1L)
    }).toDF()
      .orderBy("doc_id")
  }

  final case class AvDemux(doc_id: Long, n_frames: Long, n_samples: Long,
                           luma0: Long, motion: Long, amp_sum: Long,
                           zcr: Long)

  /** m28 — A/V demux: one interleaved AVI per document (an MJPEG video
    * track — m07's temporally-shifting flat blocks as real JPEGs — plus
    * a PCM16 `auds` track carrying the m05 sample synthesis, one `01wb`
    * slice per frame, the classic capture-file interleave), demuxed by
    * [[graft.sources.Avi.decodeAv]]'s strict walk (both stream headers
    * parsed, idx1 covering BOTH tracks verified, WAVEFORMAT cross-
    * checked against the stream header). A speech-video corpus prep
    * runs exactly this seam before sending frames to vision and audio
    * to ASR; features combine the two tracks (first-frame luma + total
    * motion from video, |amplitude| sum + zero crossings from audio) so
    * a demux that drops, duplicates or mis-orders EITHER track's chunks
    * fails the oracle, which replays both signals from the document
    * bytes with zero container knowledge.
    *
    * Scale shape: the m01–m08 posture — two scan-parallel mapPartitions
    * stages, one container walk + JPEG decodes per row, no shuffle
    * before the output sort. */
  def m28_avi_demux(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes("US-ASCII")
        val len = bytes.length
        val nf = len % 6 + 2
        val frames = (0 until nf).map { fr =>
          val vals = Array.tabulate(4)(k =>
            if (len == 0) 0 else bytes((fr + 3 * k) % len) & 0xFF)
          Jpeg.encodeGrayFlat(16, 16, vals)
        }
        val samples = Array.tabulate(len)(i =>
          (((bytes(i) & 0xFF) - 96) * 128).toShort)
        MediaRow(id, Avi.encodeMjpegAv(frames, 16, 16, 10, 8000, samples),
          "avi-av")
      })
    media.mapPartitions(_.map { r =>
      val av = Avi.decodeAv(r.payload)
      val v = av.video
      var luma0 = 0L
      v.frames.head.pixels.foreach(b => luma0 += (b & 0xFF))
      var motion = 0L
      var f = 1
      while (f < v.frames.length) {
        val a = v.frames(f - 1).pixels
        val bp = v.frames(f).pixels
        var p = 0
        while (p < bp.length) {
          motion += math.abs((bp(p) & 0xFF) - (a(p) & 0xFF))
          p += 1
        }
        f += 1
      }
      val au = av.audio.map(_.samples).getOrElse(Array.emptyShortArray)
      var amp = 0L
      var zcr = 0L
      var i = 0
      while (i < au.length) {
        amp += math.abs(au(i).toLong)
        if (i > 0 && ((au(i - 1) < 0) != (au(i) < 0))) zcr += 1
        i += 1
      }
      AvDemux(r.doc_id, v.frames.length.toLong, au.length.toLong, luma0,
        motion, amp, zcr)
    }).toDF()
      .orderBy("doc_id")
  }

  /** m29 — cross-VIDEO near-duplicate detection, the m06/m08
    * fingerprint discipline applied to the video track: every 3
    * consecutive doc_ids share the same underlying 12-frame content (a
    * Lehmer-hashed block pattern) but each doc RE-ENCODES it
    * differently — fps 10/15/20 and a +0/+1/+2 brightness shift on the
    * odd frames (the flicker/watermark class of transcode artifact).
    * Each variant becomes a REAL MJPEG-in-AVI ([[graft.sources.Jpeg]]
    * flat blocks inside [[graft.sources.Avi]]), is decoded back, and
    * the decoded block-luma sequence folds into a dHash-style temporal
    * signature: 47 greater-than transition bits over the 48 block
    * lumas. A within-frame comparison sees both operands shifted
    * identically, and a frame-crossing comparison flips only when the
    * luma gap is under the shift (≈2 % of bits), so re-encodes land
    * within Hamming ≤ 6 while unrelated content gives fair-coin bits.
    * Two measured dead ends kept OUT of the shipped design: 33-segment
    * ENERGY transitions (m08's recipe) collapsed 500 docs onto 50
    * fingerprints — mean-vs-single comparisons of the right-skewed v²
    * are ~0.8-biased when the segment sizes alternate 1/2 — and a
    * content hash affine in the element index collided almost as badly
    * (constant adjacent differences mod M survive the final modulus;
    * see the synthesis comment). The banded join (3×16-bit bands)
    * recovers the transcode cliques with no all-pairs work; the oracle
    * replays the block arithmetic from (doc_id, content hash) and
    * never sees a container byte.
    *
    * Scale shape: two scan-parallel mapPartitions stages (encode |
    * decode+fingerprint), then the m06/m08 LSH posture — band explode,
    * equi-join on (band, key), popcount filter; candidate volume is
    * governed by the 16-bit band space, never n². */
  def m29_video_neardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val cid = id / 3
        val jit = (id % 3).toInt
        val frames = (0 until 12).map { fr =>
          val vals = Array.tabulate(4) { k =>
            // square-of-mixed-Lehmer: any chain AFFINE in the element
            // index keeps a constant mod-M difference between adjacent
            // elements, which makes the transition bits near-identical
            // across content ids (measured: 500 docs → 50 fingerprints);
            // squaring makes the adjacent difference 62x+961, i.e.
            // content-dependent
            val x = (cid % 2147483647L) * 2654435761L % 2147483647L +
              31L * (fr * 4 + k) + 7L
            (x * x % 2147483647L % 200L).toInt +
              (if (fr % 2 == 1) jit else 0)
          }
          Jpeg.encodeGrayFlat(16, 16, vals)
        }
        MediaRow(id, Avi.encodeMjpeg(frames, 16, 16, 10 + 5 * jit), "avi")
      })
    // r18: fps (2 longs/doc) feeds BOTH sides of the band self-join —
    // uncached, each side re-ran the full MJPEG encode + decode pipeline
    // (plan audit: 2x SerializeFromObject branches, no reuse). Cached
    // and released after the pair set materializes.
    val fps = media.mapPartitions(_.map { r =>
      val v = Avi.decodeMjpeg(r.payload)
      // flat 8×8 blocks in raster order: block k of frame fr is the
      // decoded pixel at (8·(k/2), 8·(k%2))
      val seq = Array.tabulate(v.frames.length * 4) { j =>
        val px = v.frames(j / 4).pixels
        val k = j % 4
        (px((k / 2) * 8 * 16 + (k % 2) * 8) & 0xFF).toLong
      }
      var fp = 0L
      var b = 0
      while (b < 47) { if (seq(b + 1) > seq(b)) fp |= 1L << b; b += 1 }
      (r.doc_id, fp)
    }).toDF("doc_id", "fp").cache()
    fps.count() // eager fill: the band self-join below would race the
                // cache and re-run the MJPEG decode on both sides (the
                // d12/collapsed idiom; ADVICE r18 item 1)
    val bands = fps.select(col("doc_id"), col("fp"), explode(
        array((0 until 3).map(b => struct(lit(b).as("b"),
          shiftright(col("fp"), 16 * b).bitwiseAND(65535L).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("fp"), col("bk.b"), col("bk.key"))
    val out = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .localCheckpoint(true) // near-dup pairs: bounded by band collisions
    fps.unpersist()
    out.orderBy("doc_a", "doc_b")
  }

  final case class AvSync(doc_id: Long, n_frames: Long, n_samples: Long,
                          amp_sum: Long, max_drift_samples: Long,
                          drift_us: Long, out_of_sync: Long)

  /** m30 — A/V sync drift QA: in a captured/muxed AVI the audio rides
    * the video as one `01wb` slice per frame, and a muxer bug (or a
    * variable-rate source) makes slices run long so audio drifts behind
    * the frame clock — the defect a speech-video corpus has to gate out
    * BEFORE aligning ASR tokens to frames. Each doc muxes 4 real JPEG
    * frames at fps 10 with sampleRate 500 (nominal 50 samples/slice);
    * docs with doc_id % 3 = d get slice f running d·(f+1) samples long,
    * so the worst cumulative drift is d·10 samples = 20·d ms — d = 2 is
    * past the classic ~25 ms lip-sync threshold, d = 0 is perfect. The
    * check reads the PER-SLICE sample counts the demuxer now preserves
    * ([[graft.sources.Avi.Av.audioSlices]] — chunk sizes from the movi
    * walk, verified against idx1), so a demux that merges, splits or
    * reorders slices moves the drift and fails the oracle; amp_sum over
    * the concatenated track pins the payload bytes too.
    *
    * Scale shape: the m01–m08 posture — two scan-parallel mapPartitions
    * stages, one container walk + 4 JPEG decodes per row, no shuffle
    * before the output sort. */
  def m30_av_sync(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes("US-ASCII")
        val len = bytes.length
        val d = (id % 3).toInt
        val slices = Array.tabulate(4)(f => 50 + d * (f + 1))
        val total = slices.sum
        val samples = Array.tabulate(total)(i =>
          (((if (len == 0) 0 else bytes(i % len) & 0xFF) - 96) * 128).toShort)
        val frames = (0 until 4).map { fr =>
          val vals = Array.tabulate(4)(k =>
            if (len == 0) 0 else bytes((fr + 3 * k) % len) & 0xFF)
          Jpeg.encodeGrayFlat(16, 16, vals)
        }
        MediaRow(id,
          Avi.encodeMjpegAv(frames, 16, 16, 10, 500, samples, slices),
          "avi-av")
      })
    media.mapPartitions(_.map { r =>
      val av = Avi.decodeAv(r.payload)
      val audio = av.audio.get
      val nominal = audio.sampleRate / av.video.fps
      var amp = 0L
      audio.samples.foreach(v => amp += math.abs(v.toLong))
      var cum = 0L
      var maxDrift = 0L
      av.audioSlices.zipWithIndex.foreach { case (n, f) =>
        cum += n
        val drift = math.abs(cum - nominal.toLong * (f + 1))
        if (drift > maxDrift) maxDrift = drift
      }
      val driftUs = maxDrift * 1000000L / audio.sampleRate
      AvSync(r.doc_id, av.video.frames.length.toLong,
        audio.samples.length.toLong, amp, maxDrift, driftUs,
        if (driftUs > 25000L) 1L else 0L)
    }).toDF()
      .orderBy("doc_id")
  }

  final case class MediaQuarantine(doc_id: Long, ok: Long,
                                   err_class: String, width: Long,
                                   height: Long, lum_sum: Long)

  /** m31 — corrupt-media quarantine: the qn13 (JSONL quarantine)
    * discipline applied to the binary decode path. A 100 TB media
    * corpus ALWAYS contains undecodable payloads — truncated uploads,
    * mislabeled files — and a decode stage that throws kills the whole
    * job at the worst possible time; the production shape is
    * per-row catch → quarantine flag + error class → features only for
    * clean rows, with the scan completing regardless. Every doc gets a
    * real 16×16 JPEG; doc_id ≡ 0 (mod 7) ships TRUNCATED at half
    * length (the strict [[graft.sources.Jpeg]] walk hits the cut), and
    * doc_id ≡ 3 (mod 7) ships with the SOI marker zeroed (the
    * [[graft.sources.MediaCodec]] magic-byte sniff rejects it). The
    * oracle replays the corruption rule and the clean-row pixel
    * arithmetic from the document bytes — a decoder that silently
    * "succeeds" on corrupt bytes, or a harness that lets the exception
    * escape, both fail the gate.
    *
    * Scale shape: two scan-parallel mapPartitions stages; the catch is
    * per-row so one bad payload costs one row, not a task retry storm.
    * No shuffle before the output sort. */
  def m31_media_quarantine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes("US-ASCII")
        val len = bytes.length
        val vals = Array.tabulate(4)(k =>
          if (len == 0) 0 else bytes((5 * k + 1) % len) & 0xFF)
        val good = Jpeg.encodeGrayFlat(16, 16, vals)
        val payload =
          if (id % 7 == 0) java.util.Arrays.copyOf(good, good.length / 2)
          else if (id % 7 == 3) { val b = good.clone(); b(0) = 0; b }
          else good
        MediaRow(id, payload, "jpeg")
      })
    media.mapPartitions(_.map { r =>
      scala.util.Try(MediaCodec.decodeImage(r.payload)) match {
        case scala.util.Success(img) =>
          var lum = 0L
          img.pixels.foreach(p => lum += (p & 0xFF))
          MediaQuarantine(r.doc_id, 1L, "none", img.width.toLong,
            img.height.toLong, lum)
        case scala.util.Failure(_) =>
          MediaQuarantine(r.doc_id, 0L, "undecodable", 0L, 0L, 0L)
      }
    }).toDF()
      .orderBy("doc_id")
  }

  final case class RleFeature(doc_id: Long, width: Long, height: Long,
                              lum_sum: Long, n_runs: Long,
                              payload_bytes: Long, ratio_fp: Long)

  /** m32 — RLE8-compressed BMP (Microsoft BMP spec, BI_RLE8): the
    * compressed-bitmap variant that screenshots/UI captures ship in the
    * wild, rounding out the BMP family (8-bpp paletted / 24 / 32 were
    * round 9). Each doc renders a 16×16 two-runs-per-row gray raster,
    * encodes it through the REAL run-length stream
    * ([[MediaCodec.encodeBmpRle8]] — encoded-mode pairs, EOL/EOB
    * escapes) and decodes it back through the strict RLE walk (which
    * also accepts absolute mode and the 00 02 delta; MediaCodecSpec
    * fixtures pin those). Features: decoded luma sum (a run decoded at
    * the wrong column or row moves it), the run count RE-DERIVED from
    * the decoded raster, the container size, and the compression ratio
    * — all replayed by the oracle from the document bytes plus the
    * closed-form stream-size arithmetic, zero container knowledge.
    *
    * Scale shape: the m01–m08 posture — two scan-parallel mapPartitions
    * stages, no shuffle before the output sort. */
  def m32_bmp_rle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes("US-ASCII")
        val len = bytes.length
        val gray = Array.tabulate(256) { i =>
          val (r, c) = (i / 16, i % 16)
          (if (len == 0) 0 else bytes((2 * r + c / 8) % len) & 0xFF).toByte
        }
        MediaRow(id, MediaCodec.encodeBmpRle8(16, 16, gray), "bmp-rle8")
      })
    media.mapPartitions(_.map { r =>
      val img = MediaCodec.decodeImage(r.payload)
      val ch = img.channels
      var lum = 0L
      var runs = 0L
      var row = 0
      while (row < img.height) {
        runs += 1
        var c = 0
        var prev = -1
        while (c < img.width) {
          val v = img.pixels((row * img.width + c) * ch) & 0xFF
          lum += v
          if (prev >= 0 && v != prev) runs += 1
          prev = v
          c += 1
        }
        row += 1
      }
      val payload = r.payload.length.toLong
      val raw = 54L + 1024L + 16L * 16L
      RleFeature(r.doc_id, img.width.toLong, img.height.toLong, lum,
        runs, payload, raw * 1000000L / payload)
    }).toDF()
      .orderBy("doc_id")
  }

  /** m33 — STREAMING cross-container media dedup, the streaming ×
    * multimodal seam: media files land in a watched directory (two
    * parquet drops of binary payloads, the d13 ingest shape), each
    * micro-batch DECODES its payloads and keys
    * [[graft.streaming.StreamingDedup.dedupExactStream]]'s first-seen
    * state on the perceptual fingerprint instead of text. Every 3
    * consecutive doc_ids carry the SAME 16×16 content in a DIFFERENT
    * container — plain 8-bpp BMP, BI_RLE8 BMP, binary PGM — so the
    * dedup only works if all three decode paths produce identical
    * pixels: a one-bit decode divergence in any container splits the
    * fingerprint group and breaks the oracle, which replays the
    * fingerprint from the content rule with zero container knowledge.
    * This is the arrival-time image-dedup shape (decode → pHash → keyed
    * state) a crawl pipeline runs, where re-encodes of the same asset
    * arrive days apart in different formats.
    *
    * Scale shape: decode is scan-parallel per micro-batch; the state
    * key space is |distinct fingerprints|; drops are hash-partitioned
    * by fingerprint so any file subset a batch captures holds whole
    * groups (the d13 argument), and cross-batch arrivals resolve
    * through the keyed store. */
  def m33_stream_media_dedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    def contentFp(id: Long): (Array[Byte], Long) = {
      val cid = id / 3
      val base = (cid % 2147483647L) * 2654435761L % 2147483647L
      val gray = Array.tabulate(256) { i =>
        val x = base + 31L * i + 7L
        (x * x % 2147483647L % 200L).toByte
      }
      var fp = 0L
      var j = 0
      while (j < 63) {
        if ((gray(j + 1) & 0xFF) > (gray(j) & 0xFF)) fp |= 1L << j
        j += 1
      }
      (gray, fp)
    }
    val media = Tables.documents(s, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val (gray, fp) = contentFp(id)
        val payload = (id % 3) match {
          case 0 => MediaCodec.encodeBmp8(16, 16, gray)
          case 1 => MediaCodec.encodeBmpRle8(16, 16, gray)
          case _ => MediaCodec.encodePgm(16, 16, gray)
        }
        (id, payload, f"$fp%016x")
      }).toDF("doc_id", "payload", "fphex")
    val hiRow = media.agg(max("doc_id")).head()
    val half = if (hiRow.isNullAt(0)) 0L else hiRow.getLong(0) / 2
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", BinaryType)))
    StreamQueries.withWatchDir("graft_msrc") { watch =>
    val in = graft.core.Engine.microBatchSession(s).readStream.schema(schema)
      .parquet(watch)
    // decode INSIDE the stream: payload → pixels → dHash hex, then the
    // shared first-seen state keyed on it
    val fps = in.as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val img = MediaCodec.decodeImage(payload)
        require(img.width == 16 && img.height == 16,
          s"unexpected geometry ${img.width}x${img.height}")
        var fp = 0L
        var j = 0
        while (j < 63) {
          val a = img.pixels(j * img.channels) & 0xFF
          val b = img.pixels((j + 1) * img.channels) & 0xFF
          if (b > a) fp |= 1L << j
          j += 1
        }
        (id, f"$fp%016x")
      }).toDF("doc_id", "text")
    val out = graft.streaming.StreamingDedup.dedupExactStream(fps)
    // r19: drops staged + renamed in (see StreamQueries.stageDrop)
    // so the polling source sees each drop as ONE micro-batch
    def drop(p: org.apache.spark.sql.Column, tag: String): () => Unit =
      StreamQueries.parquetDrop(watch, tag, media.filter(p)
        .repartition(4, col("fphex")).select("doc_id", "payload"))
    StreamQueries.drain(s, "m33_stream_out", out,
      org.apache.spark.sql.streaming.OutputMode.Append,
      Seq(drop(col("doc_id") <= half, "m0"), drop(col("doc_id") > half, "m1")))
    }.select(col("doc_id"), col("kept"), col("dup_of")).orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m33_stream_media_dedup" -> (m33_stream_media_dedup _),
    "m32_bmp_rle" -> (m32_bmp_rle _),
    "m31_media_quarantine" -> (m31_media_quarantine _),
    "m30_av_sync" -> (m30_av_sync _),
    "m29_video_neardup" -> (m29_video_neardup _),
    "m28_avi_demux" -> (m28_avi_demux _),
    "m27_mjpeg_shots" -> (m27_mjpeg_shots _),
    "m26_flac_features" -> (m26_flac_features _),
    "m20_wht_spectrogram" -> (m20_wht_spectrogram _),
    "m19_gif_frames" -> (m19_gif_frames _),
    "m18_gif_features" -> (m18_gif_features _),
    "m17_jpeg_ac_texture" -> (m17_jpeg_ac_texture _),
    "m16_audio_resample" -> (m16_audio_resample _),
    "m15_png_features" -> (m15_png_features _),
    "m34_png16_features" -> (m34_png16_features _),
    "m35_adpcm_features" -> (m35_adpcm_features _),
    "m36_adpcm_stereo" -> (m36_adpcm_stereo _),
    "m37_apng_features" -> (m37_apng_features _),
    "m38_g711_features" -> (m38_g711_features _),
    "m39_exif_orientation" -> (m39_exif_orientation _),
    "m40_tga_features" -> (m40_tga_features _),
    "m41_tiff_compressed" -> (m41_tiff_compressed _),
    "m42_aiff_features" -> (m42_aiff_features _),
    "m43_mp3_books" -> (m43_mp3_books _),
    "m44_mp4_books" -> (m44_mp4_books _),
    "m45_ogg_books" -> (m45_ogg_books _),
    "m46_mkv_books" -> (m46_mkv_books _),
    "m47_webp_books" -> (m47_webp_books _),
    "m48_srt_books" -> (m48_srt_books _),
    "m49_zip_books" -> (m49_zip_books _),
    "m50_pdf_books" -> (m50_pdf_books _),
    "m14_jpeg_features" -> (m14_jpeg_features _),
    "m13_shot_boundary" -> (m13_shot_boundary _),
    "m12_vad_segments" -> (m12_vad_segments _),
    "m11_histogram_gate" -> (m11_histogram_gate _),
    "m10_patch_ssim" -> (m10_patch_ssim _),
    "m09_vit_patches" -> (m09_vit_patches _),
    "m08_audio_fingerprint" -> (m08_audio_fingerprint _),
    "m07_video_motion" -> (m07_video_motion _),
    "m25_jpeg_progressive" -> (m25_jpeg_progressive _),
    "m24_png_interlaced" -> (m24_png_interlaced _),
    "m23_dominant_color" -> (m23_dominant_color _),
    "m22_tiff_metadata" -> (m22_tiff_metadata _),
    "m21_block_phash" -> (m21_block_phash _),
    "m06_image_dhash" -> (m06_image_dhash _),
    "m01_media_features" -> (m01_media_features _),
    "m02_frame_sample" -> (m02_frame_sample _),
    "m03_resize_sample" -> (m03_resize_sample _),
    "m04_resize_bilinear" -> (m04_resize_bilinear _),
    "m05_audio_features" -> (m05_audio_features _),
  )

  /** Texture-fixture oracle shared by m17 (baseline) and m25
    * (progressive): both containers must decode to the same raster. */
  private lazy val jpegTextureSql: String = {
      val pat = graft.sources.Jpeg.AcPatternPixels
      val wp = pat.zipWithIndex.map { case (v, i) => v.toLong * (i + 1) }.sum
      s"""WITH t AS (SELECT doc_id, text, length(text) AS len,
           8 * ((length(text) // 32) % 16 + 1) AS h FROM documents),
         b AS (SELECT doc_id, h, 4 * (h // 8) AS nb,
             list_transform(range(0, 4 * (h // 8)), k ->
               64 + CASE WHEN len = 0 THEN 0
                 ELSE ascii(substr(text, (k % len)::INT + 1, 1)) % 128 END)
               AS vs
           FROM t)
         SELECT doc_id, 32::INT AS width, h::INT AS height,
           nb::BIGINT AS n_blocks,
           (64 * list_reduce(vs, (x, y) -> x + y))::BIGINT AS px_sum,
           (2080 * list_reduce(vs, (x, y) -> x + y)
             + nb * $wp)::BIGINT AS px_wsum,
           (list_min(vs) + ${pat.min})::BIGINT AS px_min,
           (list_max(vs) + ${pat.max})::BIGINT AS px_max
         FROM b ORDER BY doc_id"""
    }

  val oracles: Map[String, String] = Map(
    // frame lengths replayed per the spec's own 144·bitrate/samplerate
    // + padding integer formula as a correlated range sum; duration is
    // the exact 1152-samples-per-frame arithmetic; both engines' int
    // division agrees (all terms non-negative)
    // the fixed box layout (ftyp 24, moov hdr 8 + mvhd 108, trak 173,
    // free 8+fp, mdat 8/16 + payload) replayed closed-form; duration_ms
    // is the mvhd duration*1000//timescale integer arithmetic — both
    // engines' int division agrees (all terms non-negative)
    "m44_mp4_books" ->
      """WITH d AS (SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 600
             WHEN 1 THEN 1000 ELSE 90000 END AS ts,
           1000 + doc_id % 100000 AS dur,
           1 + CAST(doc_id % 3 AS INT) AS nt,
           CASE WHEN doc_id % 4 = 0 THEN CAST(doc_id % 50 AS INT)
             ELSE -1 END AS fp,
           100 + CAST(doc_id % 900 AS INT) AS mp,
           CASE WHEN doc_id % 5 = 0 THEN 1 WHEN doc_id % 7 = 0 THEN 2
             ELSE 0 END AS mm
         FROM documents)
         SELECT doc_id,
           CAST(4 + 5 * nt + CASE WHEN fp >= 0 THEN 1 ELSE 0 END
             AS BIGINT) AS n_boxes,
           CAST(ts AS BIGINT) AS timescale,
           CAST(dur * 1000 // ts AS BIGINT) AS duration_ms,
           CAST((nt + 1) // 2 AS BIGINT) AS n_video,
           CAST(nt // 2 AS BIGINT) AS n_audio,
           CAST(mp AS BIGINT) AS mdat_bytes,
           CAST(140 + 173 * nt
             + CASE WHEN fp >= 0 THEN 8 + fp ELSE 0 END
             + CASE WHEN mm = 1 THEN 16 ELSE 8 END + mp AS BIGINT)
             AS n_bytes
         FROM d ORDER BY doc_id""",
    // lacing replayed closed-form: each packet contributes
    // 1 + (s >= 255) lacing values (sizes stay under 510); the spanning
    // packet adds one lacing value to each of pages 0 and 1; header =
    // 27 B + lacing count per page. CRC correctness needs no oracle
    // column: parse re-derives every page CRC and rejects on mismatch.
    "m45_ogg_books" ->
      """WITH d AS (SELECT doc_id, 2 + CAST(doc_id % 5 AS INT) AS np,
           1 + doc_id % 100 AS g,
           CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS sp
         FROM documents),
         p AS (SELECT doc_id, np, g, sp,
           flatten(list_transform(range(0, np), j ->
             list_transform(range(0, 1 + CAST((doc_id + j) % 3 AS INT)),
               i -> 20 + CAST((doc_id + 13 * j + 7 * i) % 290 AS INT))))
             AS sizes
         FROM d)
         SELECT doc_id,
           CAST(np AS BIGINT) AS n_pages,
           CAST(len(sizes) + sp AS BIGINT) AS n_packets,
           CAST(np * g * 48 AS BIGINT) AS last_granule,
           CAST(list_sum(sizes) + 300 * sp AS BIGINT) AS payload_bytes,
           CAST(27 * np
             + list_sum(list_transform(sizes,
                 s -> 1 + CASE WHEN s >= 255 THEN 1 ELSE 0 END))
             + 2 * sp + list_sum(sizes) + 300 * sp AS BIGINT) AS n_bytes
         FROM p ORDER BY doc_id""",
    // the fixed EBML framing replayed closed-form: header 23 B, Segment
    // size varint 1 B (unknown, id%3=0) or 2 B, info 15 B, 13 B per
    // cluster, 7 B per block + payload; element count = 6 fixed + 2 per
    // cluster + blocks
    "m46_mkv_books" ->
      """WITH d AS (SELECT doc_id, 1 + CAST(doc_id % 4 AS INT) AS nc,
           10 + doc_id % 90 AS tsu,
           CASE WHEN doc_id % 3 = 0 THEN 5 ELSE 6 END AS sh
         FROM documents),
         c AS (SELECT doc_id, nc, tsu, sh,
           list_transform(range(0, nc),
             c -> 1 + CAST((doc_id + c) % 3 AS INT)) AS nbs,
           flatten(list_transform(range(0, nc), c ->
             list_transform(range(0, 1 + CAST((doc_id + c) % 3 AS INT)),
               b -> 10 + CAST((doc_id + 17 * c + 5 * b) % 120 AS INT))))
             AS dbs
         FROM d)
         SELECT doc_id,
           CAST(6 + 2 * nc + list_sum(nbs) AS BIGINT) AS n_elements,
           CAST(nc AS BIGINT) AS n_clusters,
           CAST(list_sum(nbs) AS BIGINT) AS n_blocks,
           CAST((nc - 1) * tsu AS BIGINT) AS last_cluster_ts,
           CAST(list_sum(dbs) AS BIGINT) AS block_bytes,
           CAST(23 + sh + 15 + 13 * nc + 7 * list_sum(nbs)
             + list_sum(dbs) AS BIGINT) AS n_bytes
         FROM c ORDER BY doc_id""",
    // RIFF framing replayed closed-form: 12 B form header; simple
    // variants are one chunk (8 B header + VP8 10-byte / VP8L 5-byte
    // bitstream header + junk + odd pad); extended is VP8X 18 + ANIM 14
    // + per frame (ANMF 8+16 + embedded VP8L chunk with ITS own pad,
    // which makes the ANMF payload even — so no outer pad)
    "m47_webp_books" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS v,
           16 + CAST(doc_id % 300 AS INT) AS w,
           16 + CAST(doc_id % 200 AS INT) AS h,
           CAST(doc_id % 2 AS INT) AS al,
           2 + CAST(doc_id % 3 AS INT) AS nf,
           CAST(doc_id % 7 AS INT) AS j0
         FROM documents)
         SELECT doc_id,
           CASE v WHEN 0 THEN 'vp8' WHEN 1 THEN 'vp8l' ELSE 'vp8x' END
             AS variant,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(CASE WHEN v = 0 THEN 0 ELSE al END AS BIGINT) AS has_alpha,
           CAST(CASE WHEN v <= 1 THEN 1 ELSE 2 + 2 * nf END AS BIGINT)
             AS n_chunks,
           CAST(CASE WHEN v <= 1 THEN 1 ELSE nf END AS BIGINT) AS n_frames,
           CAST(CASE v
             WHEN 0 THEN 30 + j0 + j0 % 2
             WHEN 1 THEN 25 + j0 + (j0 + 1) % 2
             ELSE 44 + list_sum(list_transform(range(0, nf), f ->
               37 + (doc_id + 3 * f) % 7
                 + ((doc_id + 3 * f) % 7 + 1) % 2))
           END AS BIGINT) AS n_bytes
         FROM d ORDER BY doc_id""",
    // the rendered cue-sheet layout replayed closed-form: index "i\n"
    // 2 B (i <= 6), timing line 29+1 B (fixed-width) or the 9+1 B
    // malformation, text "cue <id> <i>" = 6+digits(+nl), optional
    // "line two" 8(+nl), blank 1; quarantined cue 0 contributes bytes
    // but neither duration nor chars
    "m48_srt_books" ->
      """WITH d AS (SELECT doc_id, 2 + CAST(doc_id % 5 AS INT) AS nc,
           CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS bad,
           length(CAST(doc_id AS VARCHAR)) AS dg
         FROM documents)
         SELECT doc_id,
           CAST(nc - bad AS BIGINT) AS n_cues,
           CAST(bad AS BIGINT) AS n_bad,
           CAST(list_sum(list_transform(range(0, nc), i ->
             CASE WHEN i = 0 AND doc_id % 6 = 0 THEN 0
               ELSE 500 + (doc_id + 31 * i) % 2500 END)) AS BIGINT)
             AS total_dur_ms,
           CAST(list_sum(list_transform(range(0, nc), i ->
             CASE WHEN i = 0 AND doc_id % 6 = 0 THEN 0
               ELSE 6 + dg
                 + CASE WHEN (doc_id + i) % 2 = 0 THEN 8 ELSE 0 END END))
             AS BIGINT) AS n_chars,
           CAST(list_sum(list_transform(range(0, nc), i ->
             10 + dg
               + CASE WHEN i = 0 AND doc_id % 6 = 0 THEN 10 ELSE 30 END
               + CASE WHEN (doc_id + i) % 2 = 0 THEN 9 ELSE 0 END))
             AS BIGINT) AS n_bytes
         FROM d ORDER BY doc_id""",
    // the fixed ZIP record layout replayed closed-form: two entries,
    // names 7+digits(id) chars each -> bytes = 2·30 + 2·46 + 22
    // + 4·(7+digits) + text + bin payload; CRC correctness needs no
    // oracle column beyond n_crc_bad's doc_id % 31 cadence (the walk
    // re-derives every CRC and books the mismatch)
    "m49_zip_books" ->
      """WITH d AS (SELECT doc_id, length(text) AS tl,
           50 + doc_id % 200 AS bl,
           length(CAST(doc_id AS VARCHAR)) AS dg
         FROM documents)
         SELECT doc_id,
           CAST(2 AS BIGINT) AS n_entries,
           CAST(tl + bl AS BIGINT) AS payload_bytes,
           CAST(CASE WHEN doc_id % 31 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_crc_bad,
           CAST(174 + 28 + 4 * dg + tl + bl AS BIGINT) AS n_bytes
         FROM d ORDER BY doc_id""",
    // the rendered PDF layout replayed closed-form, digit widths and
    // all: header 9, stream object 48+digits(sl)+sl, dict objects
    // 27+digits(id+i), xref 9+20·(n+1) for the single-digit count,
    // trailer 51+digits(xref_off); the stale entry (doc_id % 23 = 0)
    // hits object 2, so stream accounting stays independent
    "m50_pdf_books" ->
      """WITH d AS (SELECT doc_id, 4 + CAST(doc_id % 3 AS INT) AS mn,
           2 + CAST(doc_id % 4 AS INT) AS n,
           20 + CAST(doc_id % 150 AS INT) AS sl,
           CASE WHEN doc_id % 23 = 0 THEN 1 ELSE 0 END AS bad
         FROM documents),
         x AS (SELECT doc_id, mn, n, sl, bad,
           9 + 48 + length(CAST(sl AS VARCHAR)) + sl
             + list_sum(list_transform(range(2, n + 1), i ->
                 27 + length(CAST(doc_id + i AS VARCHAR)))) AS xref_off
         FROM d)
         SELECT doc_id, CAST(mn AS BIGINT) AS version_minor,
           CAST(n AS BIGINT) AS n_objects,
           CAST(bad AS BIGINT) AS n_xref_bad,
           CAST(sl AS BIGINT) AS stream_bytes,
           CAST(xref_off + 60 + 20 * (n + 1)
             + length(CAST(xref_off AS VARCHAR)) AS BIGINT) AS n_bytes
         FROM x ORDER BY doc_id""",
    "m43_mp3_books" ->
      """WITH d AS (SELECT doc_id, 30 + doc_id % 50 AS nf,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 44100
             WHEN 1 THEN 48000 ELSE 32000 END AS sr,
           40 + doc_id % 60 AS id3
         FROM documents)
         SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
           CAST(nf * 1152 * 1000000 // sr AS BIGINT) AS duration_us,
           CAST(10 + id3 + list_sum(list_transform(range(0, nf), j ->
               144000 * (CASE CAST(1 + (doc_id + j) % 14 AS INT)
                 WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48
                 WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80
                 WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128
                 WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224
                 WHEN 13 THEN 256 ELSE 320 END) // sr
               + (doc_id + j) % 2)) AS BIGINT) AS n_bytes
         FROM d ORDER BY doc_id""",
    // both demuxed tracks replayed from the document bytes: video =
    // m07's v(f,k) = byte((f+3k) mod len) flat blocks (luma0 and total
    // SAD at 64x), audio = the m05 synthesis (|amp| sum + sign-flip
    // count); the interleaved AVI exists only on the Spark side
    "m28_avi_demux" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           (length(text) % 6 + 2) AS nf FROM documents),
       v AS (SELECT doc_id, len, nf,
           list_transform(range(0, nf), f ->
             list_transform(range(0, 4), k ->
               CASE WHEN len = 0 THEN 0 ELSE
                 ascii(substr(text, ((f + 3 * k) % len)::INT + 1, 1))
               END)) AS fv,
           list_transform(range(0, len), i ->
             CAST((ascii(substr(text, i::INT + 1, 1)) - 96) * 128
               AS BIGINT)) AS sl
         FROM t),
       a AS (SELECT doc_id, len, nf, sl,
           64 * (fv[1][1] + fv[1][2] + fv[1][3] + fv[1][4]) AS luma0,
           list_reduce(list_transform(range(0, nf - 1), t2 ->
             64 * (abs(fv[t2::INT + 2][1] - fv[t2::INT + 1][1])
                 + abs(fv[t2::INT + 2][2] - fv[t2::INT + 1][2])
                 + abs(fv[t2::INT + 2][3] - fv[t2::INT + 1][3])
                 + abs(fv[t2::INT + 2][4] - fv[t2::INT + 1][4]))),
             (x, y) -> x + y) AS motion
         FROM v)
       SELECT doc_id, nf::BIGINT AS n_frames, len::BIGINT AS n_samples,
         luma0::BIGINT AS luma0, motion::BIGINT AS motion,
         (CASE WHEN len = 0 THEN 0 ELSE
           list_reduce(list_transform(sl, x -> abs(x)), (x, y) -> x + y)
         END)::BIGINT AS amp_sum,
         (CASE WHEN len <= 1 THEN 0 ELSE
           list_reduce(list_transform(range(1, len),
             i -> CASE WHEN (sl[i::INT] < 0) <> (sl[i::INT + 1] < 0)
                  THEN 1 ELSE 0 END), (x, y) -> x + y)
         END)::BIGINT AS zcr
       FROM a ORDER BY doc_id""",
    // m13's shot structure replayed on the document bytes: frame f's
    // four flat blocks are v(f,k) = byte((f//3·11 + 3k + f) mod len),
    // each SAD transition is 64·Σ|Δv|, cuts use the integer
    // cross-multiplied adaptive threshold; the AVI/JPEG containers
    // exist only on the Spark side
    "m27_mjpeg_shots" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           (length(text) % 6 + 2) AS nf FROM documents),
       v AS (SELECT doc_id, nf,
           list_transform(range(0, nf), f ->
             list_transform(range(0, 4), k ->
               CASE WHEN len = 0 THEN 0 ELSE
                 ascii(substr(text,
                   (((f // 3) * 11 + 3 * k + f) % len)::INT + 1, 1))
               END)) AS fv
         FROM t),
       s AS (SELECT doc_id, nf,
           list_transform(range(0, nf - 1), t2 ->
             (64 * (abs(fv[t2::INT + 2][1] - fv[t2::INT + 1][1])
                  + abs(fv[t2::INT + 2][2] - fv[t2::INT + 1][2])
                  + abs(fv[t2::INT + 2][3] - fv[t2::INT + 1][3])
                  + abs(fv[t2::INT + 2][4] - fv[t2::INT + 1][4])))::BIGINT)
             AS sads
         FROM v),
       a AS (SELECT doc_id, nf, sads,
           list_reduce(sads, (x, y) -> x + y) AS total,
           list_max(sads) AS mx
         FROM s),
       c AS (SELECT doc_id, nf, total, mx,
           length(list_filter(sads,
             sd -> sd * (nf - 1) * 2 > 3 * total))::BIGINT AS cuts
         FROM a)
       SELECT doc_id, nf::BIGINT AS n_frames, 16::BIGINT AS width,
         16::BIGINT AS height, 10::BIGINT AS fps, total::BIGINT AS sad_total,
         mx::BIGINT AS max_sad, cuts AS n_cuts, (cuts + 1)::BIGINT AS n_shots
       FROM c ORDER BY doc_id""",
    // per-channel |amplitude| sums and position-weighted checksums
    // replayed from the document bytes (right channel = reversed, so
    // csum_r re-weights by position while amp_r equals amp_l — the
    // reversal preserves the magnitude multiset); the FLAC container,
    // channel decorrelation and rice/LPC machinery exist only on the
    // Spark side
    "m26_flac_features" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len FROM documents),
       f AS (SELECT doc_id, len,
           CASE WHEN len = 0 THEN 0 ELSE
             list_reduce(list_transform(range(0, len), i ->
               abs((ascii(substr(text, i::INT + 1, 1)) - 96) * 128)::BIGINT),
               (x, y) -> x + y) END AS amp_l,
           CASE WHEN len = 0 THEN 0 ELSE
             list_reduce(list_transform(range(0, len), i ->
               ((i + 1) * (ascii(substr(text, i::INT + 1, 1)) - 96)
                 * 128)::BIGINT), (x, y) -> x + y) END AS csum_l,
           CASE WHEN len = 0 THEN 0 ELSE
             list_reduce(list_transform(range(0, len), i ->
               ((i + 1) * (ascii(substr(text, (len - i)::INT, 1)) - 96)
                 * 128)::BIGINT), (x, y) -> x + y) END AS csum_r
         FROM t)
       SELECT doc_id, len::BIGINT AS n_samples,
         ((len + 255) // 256)::BIGINT AS n_frames,
         (doc_id % 4)::BIGINT AS ch_mode, amp_l::BIGINT AS amp_l,
         amp_l::BIGINT AS amp_r, csum_l::BIGINT AS csum_l,
         csum_r::BIGINT AS csum_r
       FROM f ORDER BY doc_id""",
    // 16-point WHT replayed coefficient-by-coefficient from the text
    // bytes: X_k = Σ_i s[16w+i]·(−1)^popcount(k&i), bands of 4 coeffs;
    // the RIFF/WAVE roundtrip happens only Spark-side
    "m20_wht_spectrogram" ->
      """WITH t AS (SELECT doc_id, length(text)::BIGINT AS n,
           list_transform(string_split(text, ''),
             c -> ((ascii(c) - 96) * 128)::BIGINT) AS sl
         FROM documents),
       c AS (SELECT doc_id, (n // 16)::BIGINT AS nw,
           list_transform(range(0, ((n // 16) * 16)::INT), j ->
             list_reduce(list_prepend(0::BIGINT,
               list_transform(range(0, 16), i ->
                 sl[((j // 16) * 16 + i)::INT + 1]
                   * (1 - 2 * (bit_count((j % 16) & i) % 2)))),
               (x, y) -> x + y)) AS cl
         FROM t)
       SELECT doc_id, nw AS n_windows,
         coalesce(list_reduce(list_prepend(0::BIGINT,
           list_transform(range(0, (nw * 16)::INT), j ->
             CASE WHEN (j % 16) // 4 = 0
               THEN cl[j::INT + 1] * cl[j::INT + 1] ELSE 0 END)),
           (x, y) -> x + y), 0) AS band0,
         coalesce(list_reduce(list_prepend(0::BIGINT,
           list_transform(range(0, (nw * 16)::INT), j ->
             CASE WHEN (j % 16) // 4 = 1
               THEN cl[j::INT + 1] * cl[j::INT + 1] ELSE 0 END)),
           (x, y) -> x + y), 0) AS band1,
         coalesce(list_reduce(list_prepend(0::BIGINT,
           list_transform(range(0, (nw * 16)::INT), j ->
             CASE WHEN (j % 16) // 4 = 2
               THEN cl[j::INT + 1] * cl[j::INT + 1] ELSE 0 END)),
           (x, y) -> x + y), 0) AS band2,
         coalesce(list_reduce(list_prepend(0::BIGINT,
           list_transform(range(0, (nw * 16)::INT), j ->
             CASE WHEN (j % 16) // 4 = 3
               THEN cl[j::INT + 1] * cl[j::INT + 1] ELSE 0 END)),
           (x, y) -> x + y), 0) AS band3
       FROM c ORDER BY doc_id""",
    // frame f pixel p = byte(p + 11f): lum over sampled (even) frames,
    // SAD between consecutive sampled pairs, frame-0 weighted sum — the
    // multi-image container walk replayed purely from text
    "m19_gif_frames" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           (length(text) % 24 + 4) * ((length(text) // 24) % 16 + 4) AS n,
           (length(text) % 5 + 2) AS nf
         FROM documents),
       s AS (SELECT doc_id, text, len, n, nf,
           list_filter(range(0, nf), f -> f % 2 = 0) AS sf FROM t),
       agg AS (SELECT doc_id, nf, len(sf) AS ns,
         CASE WHEN len = 0 THEN 0 ELSE
           list_reduce(list_transform(sf, f ->
             list_reduce(list_transform(range(0, n), p ->
               CAST(ascii(substr(text, ((p + 11*f) % len)::INT + 1, 1))
                 AS BIGINT)), (x,y) -> x+y)), (x,y) -> x+y)
         END AS lum_total,
         CASE WHEN len = 0 THEN 0 ELSE
           list_reduce(list_prepend(0::BIGINT, list_transform(
             list_filter(sf, f -> f + 2 < nf), f ->
             list_reduce(list_transform(range(0, n), p ->
               abs(CAST(ascii(substr(text, ((p + 11*f) % len)::INT + 1, 1))
                     AS BIGINT)
                 - ascii(substr(text, ((p + 11*(f+2)) % len)::INT + 1, 1)))),
               (x,y) -> x+y))), (x,y) -> x+y)
         END AS motion_sad,
         CASE WHEN len = 0 THEN 0 ELSE
           list_reduce(list_transform(range(0, n), p ->
             CAST(ascii(substr(text, (p % len)::INT + 1, 1)) AS BIGINT)
               * (p+1)), (x,y) -> x+y)
         END AS f0_wsum
         FROM s)
       SELECT doc_id, nf::BIGINT AS n_frames, ns::BIGINT AS n_sampled,
         lum_total::BIGINT AS lum_total, motion_sad::BIGINT AS motion_sad,
         f0_wsum::BIGINT AS f0_wsum
       FROM agg ORDER BY doc_id""",
    // per-pixel replay of the 7-stride byte map: the GIF path is
    // lossless, so every decoded gray equals its source byte; the
    // position-weighted sum pins pixel order through the LZW round
    "m18_gif_features" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           (length(text) % 48 + 4) AS w,
           ((length(text) // 48) % 32 + 4) AS h
         FROM documents),
       g AS (SELECT doc_id, w, h, w * h AS n,
         CASE WHEN len = 0 THEN NULL ELSE
           list_transform(range(0, w * h), p ->
             CAST(ascii(substr(text, ((7 * p) % len)::INT + 1, 1)) AS BIGINT))
         END AS gs
         FROM t),
       s AS (SELECT doc_id, w, h, n,
         CASE WHEN gs IS NULL THEN 0
           ELSE list_reduce(gs, (x, y) -> x + y) END AS gsum,
         CASE WHEN gs IS NULL THEN 0
           ELSE list_reduce(list_transform(range(1, n + 1),
             p -> gs[p] * p), (x, y) -> x + y) END AS wsum,
         CASE WHEN gs IS NULL THEN 0 ELSE list_min(gs) END AS mn,
         CASE WHEN gs IS NULL THEN 0 ELSE list_max(gs) END AS mx
         FROM g)
       SELECT doc_id, w::INT AS width, h::INT AS height, n::BIGINT AS n_px,
         (256 * gsum)::BIGINT AS lum_sum, wsum::BIGINT AS pos_wsum,
         mn::BIGINT AS px_min, mx::BIGINT AS px_max
       FROM s ORDER BY doc_id""",
    // flat-block 4:2:0 JPEG: decoded pixel (x,y) = doc byte of raster
    // block 'y/8*(w/8) + x/8' (neutral chroma -> RGB = Y), so luma is
    // 64*256*sum(block bytes); the whole T.81 chain runs Spark-side only
    // closed-form replay with the AC LUT constants baked in at build
    // time: per block, sum = 64*v (texture sums to 0), weighted sum =
    // 2080*v + WP, extremes shift by the LUT min/max; v = 64 + b%128
    "m25_jpeg_progressive" -> jpegTextureSql,
    "m17_jpeg_ac_texture" -> jpegTextureSql,

    // sample synthesis + midpoint interpolation replayed on the code
    // points; floor division toward -inf matches Math.floorDiv; the
    // RIFF/WAVE roundtrip happens only Spark-side
    "m16_audio_resample" ->
      """WITH t AS (SELECT doc_id, length(text)::BIGINT AS n,
           list_transform(string_split(text, ''),
             c -> ((ascii(c) - 96) * 128)::BIGINT) AS sl
         FROM documents),
       o AS (SELECT doc_id, n, sl,
           flatten(list_transform(range(0, n::INT), i ->
             [sl[i::INT + 1],
              CASE WHEN i + 2 <= n
                THEN floor((sl[i::INT + 1] + sl[i::INT + 2]) / 2.0)::BIGINT
                ELSE sl[i::INT + 1] END])) AS ol
         FROM t)
       SELECT doc_id, 8000::BIGINT AS rate_in, 16000::BIGINT AS rate_out,
         n AS n_in, 2 * n AS n_out,
         coalesce(list_reduce(list_prepend(0::BIGINT,
           list_transform(sl, v -> abs(v))), (x, y) -> x + y), 0) AS amp_in,
         coalesce(list_reduce(list_prepend(0::BIGINT,
           list_transform(ol, v -> abs(v))), (x, y) -> x + y), 0) AS amp_out,
         CASE WHEN n = 0 THEN 0.0
           ELSE coalesce(list_reduce(list_prepend(0::BIGINT,
             list_transform(ol, v -> abs(v))), (x, y) -> x + y), 0)
             / (2.0 * n) END AS mean_out
       FROM o ORDER BY doc_id""",
    // full per-pixel replay: RGB (even ids) gets m01's 3-channel luma,
    // gray (odd ids) the 256*b convention; the PNG container (zlib,
    // all five filters) round-trips only Spark-side
    // m37: the composition replayed as CASE arithmetic on pixel
    // coordinates — patch-in-rect else prior state, per frame
    "m37_apng_features" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           (length(text) % 24 + 2) AS w,
           ((length(text) // 24) % 16 + 2) AS h
         FROM documents),
       g AS (SELECT doc_id, text, len, w, h,
           greatest(1, w // 2) AS fw1, greatest(1, h // 2) AS fh1,
           greatest(1, w // 3) AS fw2, greatest(1, h // 3) AS fh2
         FROM t),
       r AS (SELECT doc_id, text, len, w, h, fw1, fh1, fw2, fh2,
           len % (w - fw1 + 1) AS x1, (len // 3) % (h - fh1 + 1) AS y1,
           (len // 5) % (w - fw2 + 1) AS x2, (len // 7) % (h - fh2 + 1) AS y2
         FROM g),
       fr AS (SELECT doc_id, w, h,
           list_transform(range(0, w * h), p ->
             CASE WHEN len = 0 THEN 0
               ELSE ascii(substr(text, (p % len)::INT + 1, 1)) END) AS c0,
           list_transform(range(0, w * h), p ->
             CASE WHEN (p % w) >= x1 AND (p % w) < x1 + fw1
                   AND (p // w) >= y1 AND (p // w) < y1 + fh1 THEN
               CASE WHEN len = 0 THEN 0 ELSE ascii(substr(text,
                 ((2 * (((p // w) - y1) * fw1 + ((p % w) - x1)) + 1)
                   % len)::INT + 1, 1)) END
             ELSE CASE WHEN len = 0 THEN 0
               ELSE ascii(substr(text, (p % len)::INT + 1, 1)) END
             END) AS c1
         FROM r),
       fr2 AS (SELECT fr.doc_id, fr.w, fr.h, c0, c1,
           list_transform(range(0, fr.w * fr.h), p ->
             CASE WHEN (p % fr.w) >= x2 AND (p % fr.w) < x2 + fw2
                   AND (p // fr.w) >= y2 AND (p // fr.w) < y2 + fh2 THEN
               CASE WHEN len = 0 THEN 0 ELSE ascii(substr(text,
                 ((3 * (((p // fr.w) - y2) * fw2 + ((p % fr.w) - x2)) + 2)
                   % len)::INT + 1, 1)) END
             ELSE c1[p + 1]
             END) AS c2
         FROM fr JOIN r ON r.doc_id = fr.doc_id)
       SELECT doc_id, w::INT AS width, h::INT AS height,
         3::BIGINT AS n_frames, 0::BIGINT AS plays,
         list_reduce(c0, (x, y) -> x + y)::BIGINT AS s0,
         list_reduce(c1, (x, y) -> x + y)::BIGINT AS s1,
         list_reduce(c2, (x, y) -> x + y)::BIGINT AS s2,
         list_reduce(list_transform(range(1, w * h + 1),
           i -> c2[i] * i), (x, y) -> x + y)::BIGINT AS w2
       FROM fr2 ORDER BY doc_id""",
    // m36: BOTH channel state machines advanced in one recursion (depth
    // 64); separate text phases per channel pin the demux — crossing
    // the states or mis-ordering groups breaks the per-channel sums
    "m36_adpcm_stereo" -> m36Sql,
    // the full IMA state machine replayed as a recursive CTE: one
    // iteration per nibble (depth 64 = the block length, NOT the corpus
    // size), the step/index tables as literal lists, the same clamps
    "m35_adpcm_features" ->
      """WITH RECURSIVE t AS (SELECT doc_id, text, length(text) AS len
           FROM documents),
       init AS (SELECT doc_id, text, len,
           CASE WHEN len = 0 THEN 0
             ELSE (ascii(substr(text, 1, 1)) - 64) * 256 END AS pred,
           CASE WHEN len = 0 THEN 0
             ELSE ascii(substr(text, (1 % len)::INT + 1, 1)) % 89 END AS idx
         FROM t),
       steps AS (
         SELECT doc_id, text, len, 0 AS k, pred, idx,
           pred::BIGINT AS s_sum, abs(pred)::BIGINT AS s_abs,
           pred AS s_min, pred AS s_max
         FROM init
         UNION ALL
         SELECT doc_id, text, len, k, np AS pred, ni AS idx,
           s_sum + np, s_abs + abs(np),
           least(s_min, np), greatest(s_max, np)
         FROM (
           SELECT doc_id, text, len, k, s_sum, s_abs, s_min, s_max,
             greatest(-32768, least(32767,
               CASE WHEN n >= 8 THEN pred - diff ELSE pred + diff END)) AS np,
             greatest(0, least(88, idx +
               [-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8][n + 1])) AS ni
           FROM (
             SELECT doc_id, text, len, k + 1 AS k, pred, idx, n,
               s_sum, s_abs, s_min, s_max,
               (stp // 8) + CASE WHEN n % 2 = 1 THEN stp // 4 ELSE 0 END
                 + CASE WHEN (n // 2) % 2 = 1 THEN stp // 2 ELSE 0 END
                 + CASE WHEN (n // 4) % 2 = 1 THEN stp ELSE 0 END AS diff
             FROM (
               SELECT doc_id, text, len, k, pred, idx,
                 s_sum, s_abs, s_min, s_max,
                 CASE WHEN len = 0 THEN 0
                   ELSE ascii(substr(text,
                     ((k * 5 + 1) % len)::INT + 1, 1)) % 16 END AS n,
                 [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,
                  34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,
                  157,173,190,209,230,253,279,307,337,371,408,449,494,544,
                  598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,
                  1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,
                  5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,
                  13899,15289,16818,18500,20350,22385,24623,27086,29794,
                  32767][idx + 1] AS stp
               FROM steps WHERE k < 64))))
       SELECT doc_id, 65::BIGINT AS n_samples, s_sum::BIGINT AS s_sum,
         s_abs::BIGINT AS s_abs, pred::BIGINT AS s_last,
         s_min::BIGINT AS s_min, s_max::BIGINT AS s_max
       FROM steps WHERE k = 64 ORDER BY doc_id""",
    // container-independent replay of the top-down RGB raster: the
    // oracle never sees the TGA bytes, so any BGR swap, bottom-up
    // flip, or RLE off-by-one in the decode breaks the weighted sum
    // sample math replayed from the text (decode-independent); stereo
    // rows drop the odd tail char; rate replays the 80-bit COMM field
    "m42_aiff_features" ->
      """WITH t AS (SELECT doc_id, length(text) AS len,
           CASE WHEN doc_id % 2 = 1 THEN 'aifc-sowt' ELSE 'aiff' END AS codec,
           CASE WHEN doc_id % 3 = 0 THEN 8000
                WHEN doc_id % 3 = 1 THEN 22050 ELSE 44100 END AS rate,
           CASE WHEN doc_id % 2 = 1 THEN length(text) - length(text) % 2
                ELSE length(text) END AS n,
           text FROM documents),
       s AS (SELECT doc_id, codec, rate, n,
           list_transform(range(0, n),
             i -> CAST((ascii(substr(text, i::INT + 1, 1)) - 100) * 96
               AS BIGINT)) AS sl
         FROM t)
       SELECT doc_id, codec, rate::BIGINT AS sample_rate,
         n::BIGINT AS n_samples,
         (CASE WHEN n < 2 THEN 0 ELSE
           list_reduce(list_transform(range(1, n),
             i -> CASE WHEN (sl[i::INT] < 0) <> (sl[i::INT + 1] < 0)
                  THEN 1 ELSE 0 END), (x, y) -> x + y) END)::BIGINT
           AS zcr,
         (CASE WHEN n = 0 THEN 0 ELSE
           list_reduce(list_transform(sl, v -> v * v), (x, y) -> x + y)
           END)::BIGINT AS energy,
         (CASE WHEN n = 0 THEN 0 ELSE
           list_max(list_transform(sl, v -> abs(v))) END)::BIGINT AS peak
       FROM s ORDER BY doc_id""",
    "m41_tiff_compressed" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           (length(text) % 20 + 3) AS w,
           ((length(text) // 20) % 10 + 3) AS h,
           CASE WHEN doc_id % 3 = 0 THEN 'lzw-pred'
                WHEN doc_id % 3 = 1 THEN 'lzw'
                ELSE 'packbits' END AS codec
         FROM documents),
       s AS (SELECT doc_id, codec, w, h,
           list_transform(range(0, w * h), k ->
             CASE WHEN len = 0 THEN (k % 256)
               ELSE (ascii(substr(text, ((3 * k + 5) % len)::INT + 1, 1))
                 * 5 + k) % 256 END) AS vs
         FROM t)
       SELECT doc_id, codec, w::INT AS width, h::INT AS height,
         list_reduce(vs, (x, y) -> x + y)::BIGINT AS s_sum,
         list_reduce(list_transform(range(1, w * h + 1),
           i -> vs[i] * i), (x, y) -> x + y)::BIGINT AS s_wsum,
         list_min(vs)::BIGINT AS s_min,
         list_max(vs)::BIGINT AS s_max
       FROM s ORDER BY doc_id""",
    "m40_tga_features" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           (length(text) % 24 + 2) AS w,
           ((length(text) // 24) % 12 + 2) AS h,
           CASE WHEN doc_id % 2 = 1 THEN 'tga-rle' ELSE 'tga-raw' END
             AS codec
         FROM documents),
       s AS (SELECT doc_id, codec, w, h,
           list_transform(range(0, w * h * 3), k ->
             CASE WHEN len = 0 THEN (k % 256)
               ELSE (ascii(substr(text, ((5 * k + 7) % len)::INT + 1, 1))
                 * 3 + k) % 256 END) AS vs
         FROM t)
       SELECT doc_id, codec, w::INT AS width, h::INT AS height,
         list_reduce(vs, (x, y) -> x + y)::BIGINT AS s_sum,
         list_reduce(list_transform(range(1, w * h * 3 + 1),
           i -> vs[i] * i), (x, y) -> x + y)::BIGINT AS s_wsum,
         list_min(vs)::BIGINT AS s_min,
         list_max(vs)::BIGINT AS s_max
       FROM s ORDER BY doc_id""",
    // every EXIF transform is affine in (row, col): new_index =
    // a0 + a1*row + a2*col, so the weighted sum over a flat 8x8 block
    // at block coords (bR, bC) collapses to the closed form
    // v * (64*(a0+1) + a1*(512*bR + 224) + a2*(512*bC + 224))
    // (sum of dr over 0..7 is 28, times 8 columns = 224); W = 32
    "m39_exif_orientation" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           ((length(text) // 32) % 16 + 1) AS hb,
           (doc_id % 8 + 1) AS o
         FROM documents),
       g AS (SELECT doc_id, o, hb, 8 * hb AS hh,
           list_transform(range(0, 4 * hb), k ->
             64 + CASE WHEN len = 0 THEN 0
               ELSE ascii(substr(text, ((2 * k + 1) % len)::INT + 1, 1)) % 128
               END) AS vs
         FROM t),
       a AS (SELECT doc_id, o, hb, hh, vs,
           CASE o WHEN 1 THEN 0 WHEN 2 THEN 31
                  WHEN 3 THEN (hh - 1) * 32 + 31 WHEN 4 THEN (hh - 1) * 32
                  WHEN 5 THEN 0 WHEN 6 THEN hh - 1
                  WHEN 7 THEN 31 * hh + hh - 1 ELSE 31 * hh END AS a0,
           CASE o WHEN 1 THEN 32 WHEN 2 THEN 32 WHEN 3 THEN -32
                  WHEN 4 THEN -32 WHEN 5 THEN 1 WHEN 6 THEN -1
                  WHEN 7 THEN -1 ELSE 1 END AS a1,
           CASE o WHEN 1 THEN 1 WHEN 2 THEN -1 WHEN 3 THEN -1
                  WHEN 4 THEN 1 WHEN 5 THEN hh WHEN 6 THEN hh
                  WHEN 7 THEN -hh ELSE -hh END AS a2
         FROM g)
       SELECT doc_id, o::BIGINT AS orientation,
         (CASE WHEN o >= 5 THEN hh ELSE 32 END)::INT AS out_w,
         (CASE WHEN o >= 5 THEN 32 ELSE hh END)::INT AS out_h,
         (64 * list_reduce(vs, (x, y) -> x + y))::BIGINT AS px_sum,
         list_reduce(list_transform(range(1, 4 * hb + 1), i ->
           vs[i] * (64 * (a0 + 1) + a1 * (512 * ((i - 1) // 4) + 224)
             + a2 * (512 * ((i - 1) % 4) + 224))),
           (x, y) -> x + y)::BIGINT AS px_wsum,
         (CASE o WHEN 1 THEN vs[1] WHEN 2 THEN vs[4]
                 WHEN 3 THEN vs[4 * hb] WHEN 4 THEN vs[4 * (hb - 1) + 1]
                 WHEN 5 THEN vs[1] WHEN 6 THEN vs[4 * (hb - 1) + 1]
                 WHEN 7 THEN vs[4 * hb] ELSE vs[4] END)::BIGINT AS corner
       FROM a ORDER BY doc_id""",
    // G.711 is stateless per sample, so the expansion replays as plain
    // CASE arithmetic (no recursion): u-law via u = 255 - c, A-law via
    // a = xor(c, 85); even doc_ids are u-law, odd A-law — the sniffed
    // format-tag route is pinned because the two expansions disagree
    // on nearly every code
    "m38_g711_features" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len
           FROM documents),
       s AS (SELECT doc_id,
           list_transform(range(0, 64), k ->
             CASE WHEN len = 0 THEN (k % 256)
               ELSE (ascii(substr(text, ((3 * k + 2) % len)::INT + 1, 1))
                 * 7 + k) % 256 END) AS cs
         FROM t),
       lin AS (SELECT doc_id,
           CASE WHEN doc_id % 2 = 1 THEN 'alaw' ELSE 'ulaw' END AS codec,
           list_transform(cs, c -> CASE WHEN doc_id % 2 = 0 THEN
               CASE WHEN (255 - c) >= 128
                 THEN 132 - ((((255 - c) % 16) * 8 + 132)
                   * (1 << (((255 - c) // 16) % 8)))
                 ELSE ((((255 - c) % 16) * 8 + 132)
                   * (1 << (((255 - c) // 16) % 8))) - 132 END
             ELSE
               CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END *
               CASE WHEN (xor(c, 85) // 16) % 8 = 0
                 THEN (xor(c, 85) % 16) * 16 + 8
                 WHEN (xor(c, 85) // 16) % 8 = 1
                 THEN (xor(c, 85) % 16) * 16 + 264
                 ELSE ((xor(c, 85) % 16) * 16 + 264)
                   * (1 << ((xor(c, 85) // 16) % 8 - 1)) END
             END) AS vs
         FROM s)
       SELECT doc_id, codec, 64::BIGINT AS n_samples,
         list_reduce(vs, (x, y) -> x + y)::BIGINT AS s_sum,
         list_reduce(list_transform(vs, v -> abs(v)),
           (x, y) -> x + y)::BIGINT AS s_abs,
         vs[64]::BIGINT AS s_last,
         list_min(vs)::BIGINT AS s_min,
         list_max(vs)::BIGINT AS s_max
       FROM lin ORDER BY doc_id""",
    // every sample's TWO bytes replayed from the document text:
    // high = byte(k mod len), low = byte((7k+3) mod len); hi8_sum pins
    // the sniffed 16->8 route as the high-byte sum
    "m34_png16_features" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           (length(text) % 48 + 1) AS w,
           ((length(text) // 48) % 32 + 1) AS h,
           CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
         FROM documents),
       s AS (SELECT doc_id, w, h, ch,
           list_transform(range(0, w * h * ch), k ->
             CASE WHEN len = 0 THEN 0 ELSE
               256 * CAST(ascii(substr(text, (k % len)::INT + 1, 1)) AS BIGINT)
               + ascii(substr(text, ((k * 7 + 3) % len)::INT + 1, 1))
             END) AS vs
         FROM t)
       SELECT doc_id, w::INT AS width, h::INT AS height, ch::INT AS channels,
         CASE WHEN ch = 1 THEN 'png16-gray' ELSE 'png16-rgb' END AS format,
         list_reduce(vs, (x, y) -> x + y)::BIGINT AS s_sum,
         list_reduce(list_transform(range(1, w * h * ch + 1),
           i -> vs[i] * i), (x, y) -> x + y)::BIGINT AS s_wsum,
         list_min(vs)::BIGINT AS s_min,
         list_max(vs)::BIGINT AS s_max,
         list_reduce(list_transform(vs, v -> v // 256),
           (x, y) -> x + y)::BIGINT AS hi8_sum
       FROM s ORDER BY doc_id""",
    "m15_png_features" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           (length(text) % 64 + 1) AS w,
           ((length(text) // 64) % 64 + 1) AS h
         FROM documents),
       s AS (SELECT doc_id, w, h,
         CASE WHEN doc_id % 2 = 1 THEN
           256 * list_reduce(list_transform(range(0, w * h), p ->
             CAST(ascii(substr(text, (p % len)::INT + 1, 1)) AS BIGINT)),
             (x,y) -> x+y)
         ELSE
           list_reduce(list_transform(range(0, w * h), p ->
              77 * CAST(ascii(substr(text, ((3*p)   % len)::INT + 1, 1)) AS BIGINT)
           + 150 * ascii(substr(text, ((3*p+1) % len)::INT + 1, 1))
           +  29 * ascii(substr(text, ((3*p+2) % len)::INT + 1, 1))),
             (x,y) -> x+y)
         END AS lum_sum
         FROM t)
       SELECT doc_id, w::INT AS width, h::INT AS height,
         (CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 3 END)::INT AS channels,
         CASE WHEN doc_id % 2 = 1 THEN 'png-gray' ELSE 'png-rgb' END AS format,
         lum_sum::BIGINT AS lum_sum,
         lum_sum / (w * h * 256.0) AS mean_lum
       FROM s ORDER BY doc_id""",
    "m14_jpeg_features" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           16 * (length(text) % 4 + 1) AS w,
           16 * ((length(text) // 4) % 4 + 1) AS h
         FROM documents),
       s AS (SELECT doc_id, w, h, (w // 8) * (h // 8) AS nb,
           CASE WHEN len = 0 THEN 0 ELSE
             list_reduce(list_transform(range(0, (w // 8) * (h // 8)), k ->
               CAST(ascii(substr(text, (k % len)::INT + 1, 1)) AS BIGINT)),
               (x, y) -> x + y)
           END AS vsum
         FROM t)
       SELECT doc_id, w::INT AS width, h::INT AS height, 3::INT AS channels,
         'jpeg' AS format, nb::BIGINT AS n_blocks,
         (64 * 256 * vsum)::BIGINT AS lum_sum,
         (64 * 256 * vsum) / (w * h * 256.0) AS mean_lum
       FROM s ORDER BY doc_id""",
    // pixel map replayed on document bytes; the cut rule is the same
    // integer cross-multiplication, grouped twice (per-transition SAD,
    // then per-clip threshold)
    "m13_shot_boundary" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           (length(text) % 6 + 2) AS f FROM documents),
       tr0 AS (SELECT doc_id, text, len, f,
           unnest(range(1, f))::BIGINT AS tr FROM t),
       sad AS (SELECT doc_id, f, tr,
           list_reduce(list_transform(range(0, 16), p ->
             CASE WHEN len = 0 THEN 0 ELSE
               abs(CAST(ascii(substr(text,
                 (((tr // 3) * 11 + 3 * p + tr) % len)::INT + 1, 1)) AS BIGINT)
                 - ascii(substr(text,
                 ((((tr - 1) // 3) * 11 + 3 * p + tr - 1) % len)::INT + 1, 1)))
             END), (x, y) -> x + y) AS sadv
         FROM tr0),
       agg AS (SELECT doc_id, any_value(f) AS f,
           CAST(sum(sadv) AS BIGINT) AS sad_total,
           CAST(max(sadv) AS BIGINT) AS max_sad
         FROM sad GROUP BY doc_id),
       cut AS (SELECT s.doc_id,
           CAST(count(*) FILTER (WHERE s.sadv * (a.f - 1) * 2
             > 3 * a.sad_total) AS BIGINT) AS n_cuts
         FROM sad s JOIN agg a USING (doc_id) GROUP BY s.doc_id)
       SELECT a.doc_id, a.f::BIGINT AS n_frames, a.sad_total, a.max_sad,
         c.n_cuts, c.n_cuts + 1 AS n_shots
       FROM agg a JOIN cut c USING (doc_id) ORDER BY a.doc_id""",
    // independent relational islands (unnest + lag window) vs the
    // engine's in-row sequential merge; energy replayed on code points
    "m12_vad_segments" ->
      """WITH fr AS (SELECT doc_id, f,
           least((f + 1) * 32, n) - f * 32 AS cnt,
           list_reduce(list_prepend(0::BIGINT,
             absv[f * 32 + 1 : least((f + 1) * 32, n)::INT]),
             (a, b) -> a + b) AS e
           FROM (SELECT doc_id, length(text)::BIGINT AS n,
             list_transform(string_split(text, ''),
               c -> abs((ascii(c) - 96) * 128)::BIGINT) AS absv,
             unnest(range(0, (length(text) + 31) // 32))::BIGINT AS f
           FROM documents)),
         vo AS (SELECT doc_id, f FROM fr WHERE e >= 3072 * cnt),
         isl AS (SELECT doc_id, f,
             CASE WHEN lag(f) OVER w IS NULL OR f - lag(f) OVER w > 1
               THEN 1 ELSE 0 END AS brk
           FROM vo WINDOW w AS (PARTITION BY doc_id ORDER BY f)),
         isl2 AS (SELECT doc_id, f,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY f) AS island
           FROM isl),
         seg AS (SELECT doc_id, island, count(*) AS slen
           FROM isl2 GROUP BY doc_id, island),
         per AS (SELECT doc_id, count(*)::BIGINT AS n_segments,
             max(slen)::BIGINT AS longest_seg, sum(slen)::BIGINT AS n_voiced
           FROM seg GROUP BY doc_id)
         SELECT d.doc_id,
           (length(d.text) + 31) // 32 AS n_frames,
           coalesce(p.n_voiced, 0) AS n_voiced,
           coalesce(p.n_segments, 0) AS n_segments,
           coalesce(p.longest_seg, 0) AS longest_seg,
           CASE WHEN length(d.text) = 0 THEN 0
             ELSE coalesce(p.n_voiced, 0) * 1000000
               // ((length(d.text) + 31) // 32) END AS voiced_fp
         FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
         ORDER BY d.doc_id""",
    // full-grid replay of the pgmGrid raster (pad repeats the last code
    // point; empty text decodes to one all-zero row) — bins of width 8
    "m11_histogram_gate" ->
      """WITH px AS (SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN
             list_transform(
               range(0, 32 * greatest(1, (length(text) + 31) // 32)),
               i -> CASE WHEN length(text) = 0 THEN 0
                 ELSE ascii(substr(text,
                   least(i, length(text) - 1)::INT + 1, 1)) END)
           ELSE
             flatten(list_transform(
               range(0, 4 * ((length(text) // 32) % 16 + 1)),
               k -> list_transform(range(0, 64),
                 i -> CASE WHEN length(text) = 0 THEN 0
                   ELSE ascii(substr(text,
                     (k % length(text))::INT + 1, 1)) END)))
           END AS p
           FROM documents),
         st AS (SELECT doc_id, len(p)::BIGINT AS n_px,
           (list_max(p) - list_min(p))::BIGINT AS contrast,
           list_transform(range(0, 32),
             b -> len(list_filter(p, x -> x // 8 = b))::BIGINT) AS hist
           FROM px)
         SELECT doc_id, n_px, contrast,
           len(list_filter(hist, c -> c > 0))::BIGINT AS n_bins_used,
           list_max(hist) * 1000000 // n_px AS dom_share_fp,
           (CASE WHEN list_max(hist) * 1000000 // n_px >= 750000
              OR contrast < 16 THEN 0 ELSE 1 END)::BIGINT AS keep
         FROM st ORDER BY doc_id""",
    // same integer SSIM identity over the replayed first grid row;
    // HUGEINT carries the cleared-denominator products, and both
    // engines' integer division truncates toward zero (covariance, and
    // hence B and the quotient, may be negative)
    "m10_patch_ssim" -> s"""
      WITH px AS (SELECT doc_id, length(text) AS len,
          list_transform(range(0, 32), i -> CASE WHEN length(text) = 0
            THEN 0 ELSE ascii(substr(text,
              least(i, length(text) - 1)::INT + 1, 1)) END) AS p
        FROM documents),
      sm AS (SELECT doc_id,
          CAST(list_reduce(p, (a, b) -> a + b) AS BIGINT) AS s1,
          CAST(list_reduce(list_transform(p, v -> v * v),
            (a, b) -> a + b) AS BIGINT) AS s2,
          p
        FROM px),
      j AS (SELECT x.doc_id AS pair_id, x.s1 AS sx, y.s1 AS sy,
          x.s2 AS sxx, y.s2 AS syy,
          CAST(list_reduce(list_transform(range(1, 33),
            i -> x.p[i] * y.p[i]), (a, b) -> a + b) AS BIGINT) AS sxy
        FROM sm x JOIN sm y ON y.doc_id = x.doc_id + 1
        WHERE x.doc_id % 2 = 0)
      SELECT pair_id, sx, sy, sxy,
        CAST(((2 * CAST(sx AS HUGEINT) * sy + $SsimC1) *
            (2 * (32 * CAST(sxy AS HUGEINT) - CAST(sx AS HUGEINT) * sy)
              + $SsimC2) * 1000000)
          // ((CAST(sx AS HUGEINT) * sx + CAST(sy AS HUGEINT) * sy
              + $SsimC1) *
            ((32 * CAST(sxx AS HUGEINT) - CAST(sx AS HUGEINT) * sx) +
             (32 * CAST(syy AS HUGEINT) - CAST(sy AS HUGEINT) * sy)
              + $SsimC2)) AS BIGINT) AS ssim_fp
      FROM j ORDER BY pair_id""",
    // replays the grid-fill (byte min(i, len-1), empty doc → zeros) and
    // the 8×8 patch statistics from the document bytes; the PGM
    // container roundtrip happens only on the Spark side
    "m09_vit_patches" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           greatest(1, (length(text) + 31) // 32) AS h
         FROM documents),
       b AS (SELECT doc_id, text, len, h, u.band, v.pcol
         FROM t,
           (SELECT unnest(range(0, (h + 7) // 8)) AS band) u,
           (SELECT unnest(range(0, 4)) AS pcol) v),
       p AS (SELECT doc_id, band, pcol,
           8 * least(8, h - band * 8) AS n_px,
           list_transform(range(0, (least(8, h - band * 8) * 8)::BIGINT),
             k -> CASE WHEN len = 0 THEN 0 ELSE
               ascii(substr(text,
                 least((band * 8 + k // 8) * 32 + pcol * 8 + (k % 8),
                   len - 1)::INT + 1, 1)) END) AS px
         FROM b)
       SELECT doc_id, band, pcol, n_px::BIGINT AS n_px,
         CAST(list_reduce(px, (x, y) -> x + y) AS BIGINT) AS psum,
         CAST(list_reduce(list_transform(px, x -> x * x),
           (x, y) -> x + y) AS BIGINT) AS psumsq
       FROM p ORDER BY doc_id, band, pcol""",
    // replays the sample synthesis ((ascii−96)·128) and the segment
    // energy walk — the WAV container encode/decode happens only on
    // the Spark side, so a RIFF-offset bug there breaks the pairs
    // the dHash replayed from the (doc_id/3) content rule — container
    // choice (BMP8 / RLE8 / PGM) is invisible by construction, so a
    // decode divergence in ANY of the three paths splits a group and
    // breaks the hash; first-seen = global min doc_id per fingerprint
    "m33_stream_media_dedup" ->
      """WITH t AS (SELECT doc_id, doc_id // 3 AS cid FROM documents),
       g AS (SELECT doc_id, list_transform(range(0, 256), i ->
           (((cid % 2147483647) * 2654435761 % 2147483647 + 31*i + 7)
            * ((cid % 2147483647) * 2654435761 % 2147483647 + 31*i + 7))
            % 2147483647 % 200) AS px
         FROM t),
       f AS (SELECT doc_id, list_reduce(list_transform(range(0, 63), j ->
           CASE WHEN px[j+2] > px[j+1] THEN (1::BIGINT << j::INT)
             ELSE 0::BIGINT END),
           (x, y) -> x | y) AS fp FROM g)
       SELECT doc_id, doc_id = mn AS kept, mn AS dup_of
       FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS mn
             FROM f)
       ORDER BY doc_id""",
    // two-runs-per-row raster replayed from the text bytes; the RLE
    // stream size is closed-form (2 bytes per run + per-row EOL + EOB),
    // so payload_bytes and the ratio replay with zero container
    // knowledge
    "m32_bmp_rle" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len
         FROM documents),
       rws AS (SELECT doc_id, text, len, unnest(range(0, 16)) AS r
         FROM t),
       vals AS (SELECT doc_id, r,
           CASE WHEN len = 0 THEN 0
             ELSE ascii(substr(text, ((2*r) % len)::INT + 1, 1)) END AS a,
           CASE WHEN len = 0 THEN 0
             ELSE ascii(substr(text, ((2*r + 1) % len)::INT + 1, 1)) END
             AS b2
         FROM rws),
       agg AS (SELECT doc_id,
           sum(8 * (a + b2))::BIGINT AS lum_sum,
           sum(CASE WHEN a = b2 THEN 1 ELSE 2 END)::BIGINT AS n_runs
         FROM vals GROUP BY doc_id)
       SELECT doc_id, 16::BIGINT AS width, 16::BIGINT AS height, lum_sum,
         n_runs, (1078 + 2*n_runs + 34)::BIGINT AS payload_bytes,
         CAST((1334 * 1000000) // (1078 + 2*n_runs + 34) AS BIGINT)
           AS ratio_fp
       FROM agg ORDER BY doc_id""",
    // corruption rule + clean-row flat-block arithmetic replayed from
    // the document bytes; the JPEG container (and its truncation) exist
    // only on the Spark side
    "m31_media_quarantine" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len
         FROM documents),
       v AS (SELECT doc_id, len,
           CASE WHEN doc_id % 7 = 0 OR doc_id % 7 = 3 THEN 0 ELSE 1 END
             AS ok,
           list_transform(range(0, 4), k ->
             CASE WHEN len = 0 THEN 0
               ELSE ascii(substr(text, ((5*k + 1) % len)::INT + 1, 1))
             END) AS vs
         FROM t)
       SELECT doc_id, ok::BIGINT AS ok,
         CASE WHEN ok = 1 THEN 'none' ELSE 'undecodable' END AS err_class,
         (ok * 16)::BIGINT AS width, (ok * 16)::BIGINT AS height,
         (ok * 64 * list_reduce(vs, (x, y) -> x + y))::BIGINT AS lum_sum
       FROM v ORDER BY doc_id""",
    // drift replay: slice f runs (doc_id%3)·(f+1) samples long, so the
    // worst cumulative drift is (doc_id%3)·10 samples at f=3; amp_sum
    // replays the m05 synthesis over the 200+10d concatenated samples
    // (i cycles the text bytes) — the sliced container exists only on
    // the Spark side
    "m30_av_sync" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           doc_id % 3 AS d FROM documents),
       s AS (SELECT doc_id, len, d, 200 + 10 * d AS total FROM t),
       a AS (SELECT t.doc_id, s.d, s.total,
           list_reduce(list_prepend(0::BIGINT,
             list_transform(range(0, s.total), i ->
               abs((CASE WHEN t.len = 0 THEN 0
                 ELSE ascii(substr(t.text, (i % t.len)::INT + 1, 1)) END
                 - 96) * 128)::BIGINT)), (x, y) -> x + y) AS amp_sum
         FROM t JOIN s ON t.doc_id = s.doc_id)
       SELECT doc_id, 4::BIGINT AS n_frames, total::BIGINT AS n_samples,
         amp_sum,
         (10 * d)::BIGINT AS max_drift_samples,
         (10 * d * 1000000 // 500)::BIGINT AS drift_us,
         (CASE WHEN 10 * d * 1000000 // 500 > 25000 THEN 1 ELSE 0
           END)::BIGINT AS out_of_sync
       FROM a ORDER BY doc_id""",
    // the 48 block lumas replayed from the (doc_id/3, frame, block)
    // Lehmer chain + the brightness jitter; segment energies, the 32
    // transition bits and the banded join mirror m08's oracle — the
    // AVI/JPEG containers exist only on the Spark side
    "m29_video_neardup" ->
      """WITH t AS (SELECT doc_id, doc_id // 3 AS cid, doc_id % 3 AS jit
         FROM documents),
       sq AS (SELECT doc_id, list_transform(range(0, 48), j ->
           (((cid % 2147483647) * 2654435761 % 2147483647 + 31*j + 7)
            * ((cid % 2147483647) * 2654435761 % 2147483647 + 31*j + 7))
             % 2147483647 % 200
             + CASE WHEN (j // 4) % 2 = 1 THEN jit ELSE 0 END) AS seq
         FROM t),
       fp AS (SELECT doc_id,
           list_reduce(list_transform(range(0, 47), b ->
             CASE WHEN seq[b+2] > seq[b+1] THEN (1::BIGINT << b::INT)
               ELSE 0::BIGINT END), (x, y) -> x | y) AS fp
         FROM sq),
       bands AS (SELECT doc_id, fp, b, (fp >> (16 * b::INT)) & 65535 AS key
         FROM fp, range(0, 3) t2(b)),
       cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           bit_count(xor(x.fp, y.fp))::BIGINT AS hamming
         FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
           AND x.doc_id < y.doc_id)
       SELECT doc_a, doc_b, hamming FROM cand
       WHERE hamming <= 6 ORDER BY doc_a, doc_b""",
    "m08_audio_fingerprint" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len
         FROM documents WHERE length(text) >= 33),
       e AS (SELECT doc_id, list_transform(range(0, 33), f ->
           list_reduce(list_transform(range((f*len)//33, ((f+1)*len)//33),
             i -> CAST((ascii(substr(text, i::INT + 1, 1)) - 96) * 128
                    AS BIGINT)
                  * CAST((ascii(substr(text, i::INT + 1, 1)) - 96) * 128
                    AS BIGINT)),
             (x, y) -> x + y)) AS es
         FROM t),
       fp AS (SELECT doc_id,
           list_reduce(list_transform(range(0, 32), b ->
             CASE WHEN es[b+2] > es[b+1] THEN (1::BIGINT << b::INT)
               ELSE 0::BIGINT END), (x, y) -> x | y) AS fp
         FROM e),
       bands AS (SELECT doc_id, fp, b, (fp >> (16 * b::INT)) & 65535 AS key
         FROM fp, range(0, 2) t2(b)),
       cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           bit_count(xor(x.fp, y.fp))::BIGINT AS hamming
         FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
           AND x.doc_id < y.doc_id)
       SELECT doc_a, doc_b, hamming FROM cand
       WHERE hamming <= 4 ORDER BY doc_a, doc_b""",
    // replays the frame-fill arithmetic (pixel(f,p) = byte (f+3p) mod
    // len; ascii('') = 0 for the empty doc) — the PGM container walk
    // happens only on the Spark side, so a frame-boundary bug there
    // breaks the hash
    "m07_video_motion" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           (length(text) % 6 + 2) AS f FROM documents),
       s AS (SELECT doc_id, f,
         list_reduce(list_transform(range(0, 16), p ->
           CASE WHEN len = 0 THEN 0 ELSE
             CAST(ascii(substr(text, ((0 + 3*p) % len)::INT + 1, 1)) AS BIGINT)
           END), (x,y) -> x+y) AS luma0,
         list_reduce(list_transform(range(16, f*16), k ->
           CASE WHEN len = 0 THEN 0 ELSE
             abs(CAST(ascii(substr(text, (((k//16) + 3*(k%16)) % len)::INT + 1, 1)) AS BIGINT)
               - ascii(substr(text, (((k//16) - 1 + 3*(k%16)) % len)::INT + 1, 1)))
           END), (x,y) -> x+y) AS motion
         FROM t)
       SELECT doc_id, f::BIGINT AS n_frames, luma0::BIGINT AS luma0,
         motion::BIGINT AS motion
       FROM s ORDER BY doc_id""",
    // lossless replay of both sums from document bytes; pos_hash is
    // position-weighted so a de-interlace scatter bug hash-fails
    "m24_png_interlaced" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           (length(text) % 64 + 1) AS w,
           ((length(text) // 64) % 64 + 1) AS h
         FROM documents),
       px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS p, text, len
         FROM t),
       l AS (SELECT doc_id, w, h, p,
           CASE WHEN doc_id % 2 = 0 THEN
             256 * ascii(substr(text, (p % len)::INT + 1, 1))
           ELSE
             77 * ascii(substr(text, ((3*p)   % len)::INT + 1, 1))
           + 150 * ascii(substr(text, ((3*p+1) % len)::INT + 1, 1))
           + 29 * ascii(substr(text, ((3*p+2) % len)::INT + 1, 1))
           END::BIGINT AS lum
         FROM px)
       SELECT doc_id, any_value(w)::BIGINT AS width,
         any_value(h)::BIGINT AS height,
         sum(lum)::BIGINT AS luma_sum,
         sum(lum * (p % 97 + 1))::BIGINT AS pos_hash
       FROM l GROUP BY doc_id ORDER BY doc_id""",
    // m01 pixel construction replayed; same 4x4x4 quantization, same
    // lowest-cell tie-break on the argmax
    "m23_dominant_color" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           (length(text) % 64 + 1) AS w,
           ((length(text) // 64) % 64 + 1) AS h
         FROM documents),
       px AS (SELECT doc_id, w * h AS n,
           unnest(range(0, w * h)) AS p, text, len FROM t),
       cells AS (SELECT doc_id, n,
           CASE WHEN doc_id % 4 = 3 THEN
             (ascii(substr(text, (p % len)::INT + 1, 1)) // 64) * 21
           ELSE
             (ascii(substr(text, ((3*p)   % len)::INT + 1, 1)) // 64) * 16
           + (ascii(substr(text, ((3*p+1) % len)::INT + 1, 1)) // 64) * 4
           + (ascii(substr(text, ((3*p+2) % len)::INT + 1, 1)) // 64)
           END AS cell
         FROM px),
       hist AS (SELECT doc_id, n, cell, count(*)::BIGINT AS c
         FROM cells GROUP BY 1, 2, 3),
       ranked AS (SELECT doc_id, n, cell, c,
           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, cell)
             AS rk,
           count(*) OVER (PARTITION BY doc_id)::BIGINT AS occ
         FROM hist)
       SELECT doc_id, n::BIGINT AS n_pixels, cell::BIGINT AS dom_cell,
         c AS dom_count, occ AS n_cells
       FROM ranked WHERE rk = 1 ORDER BY doc_id""",
    // pgmGrid pixel convention replayed on the document bytes; strip
    // count is ceil(h/4), tag count is the fixed 9-entry IFD, byte
    // order alternates by doc parity
    "m22_tiff_metadata" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           greatest(1, (length(text) + 31) // 32) AS h FROM documents)
       SELECT doc_id, 32::BIGINT AS width, h::BIGINT AS height,
         ((h + 3) // 4)::BIGINT AS n_strips, 9::BIGINT AS n_tags,
         (CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 1 END)::BIGINT AS byte_order,
         (CASE WHEN len = 0 THEN 0 ELSE
           list_reduce(list_transform(range(0, 32 * h), i ->
             ascii(substr(text, least(i, len - 1)::INT + 1, 1))),
             (x, y) -> x + y) END)::BIGINT AS luma_sum
       FROM t ORDER BY doc_id""",
    // same 16x16 nearest resample replayed on the document bytes (PGM
    // taps for even ids, flat-JPEG block taps for odd), same 2x2 block
    // sums, lower-median threshold, band join and Hamming verify
    "m21_block_phash" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           ((length(text) + 31) // 32) AS h,
           8 * ((length(text) // 32) % 16 + 1) AS hj FROM documents),
       g AS (SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN
             list_transform(range(0, 256), k ->
               CASE WHEN len = 0 THEN 0 ELSE
                 ascii(substr(text,
                   (least(((k // 16) * (h - 1)) // 15 * 32 + ((k % 16) * 31) // 15,
                     len - 1))::INT + 1, 1))
               END)
           ELSE
             list_transform(range(0, 256), k ->
               CASE WHEN len = 0 THEN 0 ELSE
                 ascii(substr(text,
                   ((4 * ((((k // 16) * (hj - 1)) // 15) // 8)
                     + (((k % 16) * 31) // 15) // 8) % len)::INT + 1, 1))
               END)
           END AS px
         FROM t),
       su AS (SELECT doc_id,
           list_transform(range(0, 64), b ->
             px[(2 * (b // 8)) * 16 + 2 * (b % 8) + 1]
           + px[(2 * (b // 8)) * 16 + 2 * (b % 8) + 2]
           + px[(2 * (b // 8) + 1) * 16 + 2 * (b % 8) + 1]
           + px[(2 * (b // 8) + 1) * 16 + 2 * (b % 8) + 2]) AS sums
         FROM g),
       hsh AS (SELECT doc_id,
           list_reduce(list_transform(range(0, 63), b ->
             CASE WHEN sums[b::INT + 1] > list_sort(sums)[32]
               THEN (1::BIGINT << (b::INT)) ELSE 0::BIGINT END),
             (x, y) -> x | y) AS ph
         FROM su),
       bands AS (SELECT doc_id, ph, b,
           (ph >> (16 * b::INT)) & 65535 AS key
         FROM hsh, range(0, 4) t2(b)),
       cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           bit_count(xor(x.ph, y.ph))::BIGINT AS hamming
         FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
           AND x.doc_id < y.doc_id)
       SELECT doc_a, doc_b, hamming FROM cand
       WHERE hamming <= 6 ORDER BY doc_a, doc_b""",
    "m06_image_dhash" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           ((length(text) + 31) // 32) AS h,
           8 * ((length(text) // 32) % 16 + 1) AS hj FROM documents),
       g AS (SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN
             list_transform(range(0, 72), k ->
               CASE WHEN len = 0 THEN 0 ELSE
                 ascii(substr(text,
                   (least(((k // 9) * (h - 1)) // 7 * 32 + ((k % 9) * 31) // 8,
                     len - 1))::INT + 1, 1))
               END)
           ELSE
             list_transform(range(0, 72), k ->
               CASE WHEN len = 0 THEN 0 ELSE
                 ascii(substr(text,
                   ((4 * ((((k // 9) * (hj - 1)) // 7) // 8)
                     + (((k % 9) * 31) // 8) // 8) % len)::INT + 1, 1))
               END)
           END AS px
         FROM t),
       hsh AS (SELECT doc_id,
           list_reduce(list_transform(range(0, 63), b ->
             CASE WHEN px[(b // 8) * 9 + (b % 8) + 1]
                    > px[(b // 8) * 9 + (b % 8) + 2]
               THEN (1::BIGINT << (b::INT)) ELSE 0::BIGINT END),
             (x, y) -> x | y) AS dhash
         FROM g),
       bands AS (SELECT doc_id, dhash, b,
           (dhash >> (16 * b::INT)) & 65535 AS key
         FROM hsh, range(0, 4) t2(b)),
       cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           bit_count(xor(x.dhash, y.dhash))::BIGINT AS hamming
         FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
           AND x.doc_id < y.doc_id)
       SELECT doc_a, doc_b, hamming FROM cand
       WHERE hamming <= 6 ORDER BY doc_a, doc_b""",
    // replays the pixel-fill + integer-luma arithmetic on the document
    // bytes; the BMP/PPM container roundtrip happens only on the Spark
    // side, so layout bugs there break the hash
    "m01_media_features" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           (length(text) % 64 + 1) AS w,
           ((length(text) // 64) % 64 + 1) AS h
         FROM documents),
       s AS (SELECT doc_id, w, h,
         CASE WHEN doc_id % 4 = 3 THEN
           256 * list_reduce(list_transform(range(0, w * h), p ->
             CAST(ascii(substr(text, (p % len)::INT + 1, 1)) AS BIGINT)),
             (x,y) -> x+y)
         ELSE
           list_reduce(list_transform(range(0, w * h), p ->
              77 * CAST(ascii(substr(text, ((3*p)   % len)::INT + 1, 1)) AS BIGINT)
           + 150 * ascii(substr(text, ((3*p+1) % len)::INT + 1, 1))
           +  29 * ascii(substr(text, ((3*p+2) % len)::INT + 1, 1))),
             (x,y) -> x+y)
         END AS lum_sum
         FROM t)
       SELECT doc_id, w::INT AS width, h::INT AS height, 3::INT AS channels,
         CASE doc_id % 4 WHEN 0 THEN 'bmp24' WHEN 1 THEN 'bmp32'
           WHEN 2 THEN 'ppm' ELSE 'bmp8' END AS format,
         lum_sum::BIGINT AS lum_sum,
         lum_sum / (w * h * 256.0) AS mean_lum
       FROM s ORDER BY doc_id""",
    "m02_frame_sample" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len FROM documents),
       m AS (SELECT doc_id, len, (len + 31) // 32 AS n_frames,
         list_reduce(list_transform(range(0, (len + 31) // 32, 4), f ->
           least(32, len - f*32)), (x,y) -> x+y) AS ns_samples,
         list_reduce(list_transform(range(0, (len + 31) // 32, 4), f ->
           list_reduce(list_transform(range(f*32, least(f*32 + 32, len)), i ->
             abs((ascii(substr(text, i::INT + 1, 1)) - 96) * 128)::BIGINT),
             (x,y) -> x+y)), (x,y) -> x+y) AS amp_sum
         FROM t)
       SELECT doc_id, 8000::BIGINT AS sample_rate, n_frames::BIGINT AS n_frames,
         len(range(0, n_frames, 4))::BIGINT AS n_sampled,
         amp_sum::BIGINT AS amp_sum,
         amp_sum / ns_samples::DOUBLE AS mean_amp
       FROM m ORDER BY doc_id""",
    "m03_resize_sample" ->
      """SELECT doc_id, 64::BIGINT AS n_samples,
         CAST(list_reduce(list_transform(range(0, 64), k ->
           ascii(substr(text,
             least((k // 8) * ((length(text) + 31) // 32) // 8 * 32 + (k % 8) * 4,
                   length(text) - 1)::INT + 1, 1))::BIGINT),
           (x,y) -> x+y) AS BIGINT) AS byte_sum,
         list_reduce(list_transform(range(0, 64), k ->
           ascii(substr(text,
             least((k // 8) * ((length(text) + 31) // 32) // 8 * 32 + (k % 8) * 4,
                   length(text) - 1)::INT + 1, 1))::BIGINT),
           (x,y) -> x+y) / 64.0 AS mean_px
         FROM documents ORDER BY doc_id""",
    // replays the align-corners fixed-point bilinear taps on the padded
    // 32-wide grid; only the Spark side round-trips the PGM container
    "m04_resize_bilinear" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS len,
           (length(text) + 31) // 32 AS h
         FROM documents),
       s AS (SELECT doc_id, len, h,
         list_reduce(list_transform(range(0, 64), k ->
           (CAST((7 - ((k // 8) * (h-1)) % 7) AS BIGINT)
              * (7 - ((k % 8) * 31) % 7)
              * ascii(substr(text, least((((k // 8) * (h-1)) // 7) * 32
                  + (((k % 8) * 31) // 7), len - 1)::INT + 1, 1))
          + CAST((7 - ((k // 8) * (h-1)) % 7) AS BIGINT)
              * (((k % 8) * 31) % 7)
              * ascii(substr(text, least((((k // 8) * (h-1)) // 7) * 32
                  + least((((k % 8) * 31) // 7) + 1, 31), len - 1)::INT + 1, 1))
          + CAST((((k // 8) * (h-1)) % 7) AS BIGINT)
              * (7 - ((k % 8) * 31) % 7)
              * ascii(substr(text, least(least((((k // 8) * (h-1)) // 7) + 1, h-1) * 32
                  + (((k % 8) * 31) // 7), len - 1)::INT + 1, 1))
          + CAST((((k // 8) * (h-1)) % 7) AS BIGINT)
              * (((k % 8) * 31) % 7)
              * ascii(substr(text, least(least((((k // 8) * (h-1)) // 7) + 1, h-1) * 32
                  + least((((k % 8) * 31) // 7) + 1, 31), len - 1)::INT + 1, 1)))),
           (x,y) -> x+y) AS bl_sum
         FROM t)
       SELECT doc_id, 64::BIGINT AS n_out, bl_sum::BIGINT AS bl_sum,
         bl_sum / (64 * 49.0) AS mean_bl
       FROM s ORDER BY doc_id""",
    // replays the PCM synthesis + feature arithmetic on the document
    // bytes; the RIFF/WAVE roundtrip happens only Spark-side
    "m05_audio_features" ->
      """WITH t AS (SELECT doc_id, length(text) AS len,
           list_transform(range(0, length(text)),
             i -> CAST((ascii(substr(text, i::INT + 1, 1)) - 96) * 128
               AS BIGINT)) AS sl
         FROM documents)
       SELECT doc_id, len::BIGINT AS n_samples,
         list_reduce(list_transform(range(1, len),
           i -> CASE WHEN (sl[i::INT] < 0) <> (sl[i::INT + 1] < 0)
                THEN 1 ELSE 0 END), (x,y) -> x+y)::BIGINT AS zcr,
         list_reduce(list_transform(sl, v -> v * v), (x,y) -> x+y)::BIGINT
           AS energy,
         list_max(list_transform(sl, v -> abs(v)))::BIGINT AS peak
       FROM t ORDER BY doc_id""",
  )
}
