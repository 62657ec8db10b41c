package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{array, bit_count, col, explode, lit, shiftright, struct}

import graft.core.Tables
import graft.sources.{Flac, Jpeg, MediaCodec}

/** The synthetic-media source of the multimodal family
  * ([[MultimodalQueries]]). The container ships no media fixtures, so
  * every m-query ENCODES a payload from the document bytes in one
  * `mapPartitions` stage and DECODES it in a second stage that sees only
  * the opaque binary column. The DuckDB oracles replay the feature
  * arithmetic on the document code points (`ascii()`), so the synthesis
  * convention is part of the oracle contract; this module owns it.
  *
  *  - SOURCE: [[docs]] (`(doc_id, bytes)`, ASCII-guarded) and [[ids]].
  *  - SYNTHESIS: pure `(id, bytes) => MediaRow` functions — [[pgmGrid]],
  *    [[jpegGrid]], [[grayGrid]], [[m01Mix]], [[wavOrFlac]], [[pgmClip]]
  *    — over the shared rules [[tap]], [[grid32]], [[cycling]],
  *    [[sample]]/[[pcm]] and [[frame]] (as JPEGs: [[jpegFrames]]).
  *  - STAGES: [[encode]] (documents → payloads) and [[features]] /
  *    [[rows]] (payloads → typed feature rows).
  *  - KERNELS: [[luma601]]/[[lumaSum]], [[byteSum]], [[sad]]/[[sads]],
  *    [[audioStats]], [[sampleStats]], [[pixelStats]] and the banded
  *    near-dup join [[hammingPairs]]. */
object MediaFrames {

  final case class MediaRow(doc_id: Long, payload: Array[Byte],
                            format: String)

  private def documents(s: SparkSession, dir: String, cols: String*) =
    Tables.documents(s, dir).select(cols.map(col): _*)

  /** Every document as `(doc_id, bytes)`, one byte per char — the code
    * points the oracles read with `ascii()`. `getBytes("US-ASCII")`
    * silently folds a non-ASCII char to '?' (63), which would yield a
    * wrong-but-plausible feature row, so a non-ASCII document fails the
    * query instead. */
  def docs(s: SparkSession, dir: String): Dataset[(Long, Array[Byte])] =
    documents(s, dir, "doc_id", "text")
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .mapPartitions(_.map { case (id, text) =>
        require(text.forall(_ < 128),
          s"doc $id: non-ASCII char — media bytes would diverge from code points")
        (id, text.getBytes("US-ASCII"))
      })(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))

  /** The doc_ids alone, for queries whose media derive from the id. */
  def ids(s: SparkSession, dir: String): Dataset[Long] =
    documents(s, dir, "doc_id").as(Encoders.scalaLong)

  /** The encode stage: one synthesized payload per document. */
  def encode(in: Dataset[(Long, Array[Byte])])(
      f: (Long, Array[Byte]) => MediaRow): Dataset[MediaRow] =
    in.mapPartitions(_.map { case (id, b) => f(id, b) })(
      Encoders.product[MediaRow])

  /** `f` over every row of `ds` (a decode stage), columns named `cols`,
    * else after the fields of `T`. */
  def rows[A, T <: Product : TypeTag](ds: Dataset[A], cols: String*)(
      f: A => T): DataFrame = {
    val out = ds.mapPartitions(_.map(f))(Encoders.product[T])
    if (cols.isEmpty) out.toDF() else out.toDF(cols: _*)
  }

  /** The decode tail: [[rows]] ordered by doc_id. */
  def features[A, T <: Product : TypeTag](ds: Dataset[A], cols: String*)(
      f: A => T): DataFrame =
    rows(ds, cols: _*)(f).orderBy("doc_id")

  // ---- synthesis ---------------------------------------------------

  /** Byte k of the document, cycling (k mod len); 0 for an empty
    * document, which is what every oracle's `ascii('')` tap reads. */
  def tap(b: Array[Byte], k: Int): Int =
    if (b.isEmpty) 0 else b(k % b.length) & 0xFF

  /** The 32-wide gray grid of m03/m04/m06/m09–m11/m21/m22: rows of
    * document bytes, the last byte repeated to pad the final row;
    * returns (height, pixels). An empty document maps to one all-zero
    * row — h would otherwise be 0 and every decode-side pixel access
    * would crash; all-zero pixels reproduce what the oracles compute for
    * empty text, so the guard is oracle-faithful, not just crash-proof. */
  def grid32(b: Array[Byte]): (Int, Array[Byte]) = {
    val len = b.length
    val h = math.max(1, (len + 31) / 32)
    (h, if (len == 0) new Array[Byte](32)
        else Array.tabulate(32 * h)(i => b(math.min(i, len - 1))))
  }

  /** [[grid32]] as a binary PGM. */
  def pgmGrid(id: Long, b: Array[Byte]): MediaRow = {
    val (h, gray) = grid32(b)
    MediaRow(id, MediaCodec.encodePgm(32, h, gray), "pgm")
  }

  /** JPEG twin of [[pgmGrid]]: a 32-px-wide grayscale baseline JPEG
    * whose 8×8 blocks (raster order, 4 per row, (len/32)%16+1 block
    * rows) are flat values cycling through the document bytes, written
    * with restart interval 3 so the production decode path crosses DC
    * predictor resets. Flat blocks decode bit-exactly (see [[Jpeg]]),
    * so the oracle replays pixel(x, y) = byte((4·(y/8) + x/8) mod len)
    * with no JPEG knowledge; an empty document is one all-zero block
    * row. */
  def jpegGrid(id: Long, b: Array[Byte]): MediaRow = {
    val hb = (b.length / 32) % 16 + 1
    val vals = Array.tabulate(4 * hb)(tap(b, _))
    MediaRow(id, Jpeg.encodeGrayFlat(32, 8 * hb, vals, dri = 3), "jpeg")
  }

  /** m06/m11/m21's mixed gray corpus: ODD doc_ids ship [[jpegGrid]],
    * even [[pgmGrid]] — the decode stage is format-blind (magic-byte
    * sniff), so half the corpus drives the full T.81 chain. */
  def grayGrid(id: Long, b: Array[Byte]): MediaRow =
    if (id % 2 == 1) jpegGrid(id, b) else pgmGrid(id, b)

  /** The cycling raster of m01/m15/m23/m24: w = len%64+1,
    * h = (len/64)%64+1, `ch` channel bytes per pixel cycling through the
    * document; an empty document is one black pixel (w = h = 1 match
    * the size formula, a zero replaces the undefined byte(k mod 0)). */
  def cycling(b: Array[Byte], ch: Int): MediaCodec.Image = {
    val w = b.length % 64 + 1
    val h = (b.length / 64) % 64 + 1
    MediaCodec.Image(w, h, ch, Array.tabulate(w * h * ch)(tap(b, _).toByte))
  }

  /** The m01 container mix, shared by m01 and m23: the [[cycling]]
    * raster as BMP-24 / BMP-32 / PPM (RGB) or as an 8-bpp PALETTED BMP
    * (grayscale color table, one document byte per pixel) by doc_id%4. */
  def m01Mix(id: Long, b: Array[Byte]): MediaRow = {
    val (fmt, enc) = (id % 4) match {
      case 0 => ("bmp24", MediaCodec.encodeBmp24 _)
      case 1 => ("bmp32", MediaCodec.encodeBmp32 _)
      case 2 => ("ppm", MediaCodec.encodePpm _)
      case _ => ("bmp8", MediaCodec.encodeBmp8 _)
    }
    val img = cycling(b, if (fmt == "bmp8") 1 else 3)
    MediaRow(id, enc(img.width, img.height, img.pixels), fmt)
  }

  /** PCM16 sample of one document byte value: (v − 96)·128. */
  def sample(v: Int): Short = ((v - 96) * 128).toShort

  /** One [[sample]] per document byte. */
  def pcm(b: Array[Byte]): Array[Short] =
    Array.tabulate(b.length)(i => sample(b(i) & 0xFF))

  /** The mixed audio corpus of m02/m05/m08/m12/m16/m20: an 8 kHz mono
    * [[pcm]] clip, ODD doc_ids as FLAC, even as WAV. Both are lossless,
    * so the feature arithmetic and the oracle are container-blind. */
  def wavOrFlac(id: Long, b: Array[Byte]): MediaRow = {
    val samples = pcm(b)
    if (id % 2 == 1) MediaRow(id, Flac.encode(8000, 1, samples), "flac")
    else MediaRow(id, MediaCodec.encodeWav(8000, samples), "wav16")
  }

  /** Frame count of the flat-block clips: 2–7 by document length. */
  def clipLen(b: Array[Byte]): Int = b.length % 6 + 2

  /** Frame `fr` of the flat-block sequence of m07/m13/m27/m28/m30: `n`
    * values, value k = byte((fr + 3k) mod len) — temporally shifting
    * content, so inter-frame deltas are non-trivial. With `shots` the
    * base jumps by 11 every 3 frames (shot g = fr/3: a cut to find) and
    * the +fr term is the within-shot jitter. */
  def frame(b: Array[Byte], fr: Int, n: Int,
            shots: Boolean = false): Array[Int] =
    Array.tabulate(n)(k => tap(b, (if (shots) (fr / 3) * 11 else 0) + 3 * k + fr))

  /** m07/m13's multi-frame motion-PGM container: [[clipLen]]
    * self-describing 4×4 P5 frames back to back. */
  def pgmClip(id: Long, b: Array[Byte], shots: Boolean): MediaRow =
    MediaRow(id, (0 until clipLen(b)).map(fr => MediaCodec.encodePgm(4, 4,
      frame(b, fr, 16, shots).map(_.toByte))).reduce(_ ++ _), "mpgm")

  /** `nf` [[frame]]s as 16×16 gray baseline JPEGs of four flat blocks. */
  def jpegFrames(b: Array[Byte], nf: Int,
                 shots: Boolean = false): IndexedSeq[Array[Byte]] =
    (0 until nf).map(fr => Jpeg.encodeGrayFlat(16, 16, frame(b, fr, 4, shots)))

  // ---- kernels -----------------------------------------------------

  /** Integer ITU-R BT.601 luma of pixel p, scaled by 256: 77R+150G+29B
    * on RGB, 256·v on gray (so a gray raster and its r=g=b expansion
    * agree and the oracles stay integer-exact). */
  def luma601(img: MediaCodec.Image, p: Int): Long = {
    val px = img.pixels
    if (img.channels == 3)
      77L * (px(3 * p) & 0xFF) + 150L * (px(3 * p + 1) & 0xFF) +
        29L * (px(3 * p + 2) & 0xFF)
    else 256L * (px(p) & 0xFF)
  }

  /** Σ [[luma601]] over the raster. */
  def lumaSum(img: MediaCodec.Image): Long = {
    var lum = 0L
    var p = 0
    while (p < img.width * img.height) { lum += luma601(img, p); p += 1 }
    lum
  }

  /** Σ of the unsigned bytes. */
  def byteSum(px: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < px.length) { s += px(i) & 0xFF; i += 1 }
    s
  }

  /** Sum of absolute differences between two frames' unsigned bytes,
    * reading every `step`-th byte (3: the gray channel of an r=g=b
    * raster). */
  def sad(a: Array[Byte], b: Array[Byte], step: Int = 1): Long = {
    var sd = 0L
    var p = 0
    while (p < b.length) {
      sd += math.abs((b(p) & 0xFF) - (a(p) & 0xFF))
      p += step
    }
    sd
  }

  /** The [[sad]] of every consecutive frame pair; their sum is the
    * clip's total motion. */
  def sads(frames: IndexedSeq[Array[Byte]]): Array[Long] =
    Array.tabulate(frames.length - 1)(t => sad(frames(t), frames(t + 1)))

  /** (zero crossings, energy Σs², peak |s|): the classic speech/music
    * triage trio, a zero crossing a strict sign flip across 0. */
  def audioStats(a: Array[Short]): (Long, Long, Long) = {
    var zcr = 0L; var energy = 0L; var peak = 0L
    var i = 0
    while (i < a.length) {
      val v = a(i).toLong
      energy += v * v
      if (math.abs(v) > peak) peak = math.abs(v)
      if (i > 0 && ((a(i - 1) < 0) != (v < 0))) zcr += 1
      i += 1
    }
    (zcr, energy, peak)
  }

  /** (Σs, Σ|s|, min, max) of a decoded sample stream. */
  def sampleStats(a: Array[Short]): (Long, Long, Long, Long) = {
    var sum = 0L; var abs = 0L
    var mn = Long.MaxValue; var mx = Long.MinValue
    var k = 0
    while (k < a.length) {
      val v = a(k).toLong
      sum += v; abs += math.abs(v)
      if (v < mn) mn = v
      if (v > mx) mx = v
      k += 1
    }
    (sum, abs, mn, mx)
  }

  /** (Σv, Σv·(i+1), min, max) over the unsigned bytes — the
    * position-weighted checksum pins the decoded pixel ORDER. */
  def pixelStats(px: Array[Byte]): (Long, Long, Long, Long) = {
    var sum = 0L; var wsum = 0L
    var mn = Long.MaxValue; var mx = Long.MinValue
    var i = 0
    while (i < px.length) {
      val v = (px(i) & 0xFF).toLong
      sum += v; wsum += v * (i + 1)
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    (sum, wsum, mn, mx)
  }

  /** Banded-Hamming near-duplicate pairs over `df`'s (doc_id, `hashCol`):
    * the hash is cut into `nBands` 16-bit bands, an equi-join on
    * (band, key) proposes candidates (bounded buckets, the d03/d04 skew
    * story, never n² work) and XOR + popcount ≤ `maxHamming` verifies.
    * Output (doc_a < doc_b, hamming), unordered. */
  def hammingPairs(df: DataFrame, hashCol: String, nBands: Int,
                   maxHamming: Int): DataFrame = {
    val bands = df.select(col("doc_id"), col(hashCol), explode(
        array((0 until nBands).map(b => struct(lit(b).as("b"),
          shiftright(col(hashCol), 16 * b).bitwiseAND(65535L).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col(hashCol), col("bk.b"), col("bk.key"))
    bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col(s"x.$hashCol").bitwiseXOR(col(s"y.$hashCol")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
