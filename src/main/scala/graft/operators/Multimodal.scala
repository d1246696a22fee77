package graft.operators

import java.awt.image.{BufferedImage, IndexColorModel}
import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Materialize

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media payloads are opaque `binary` columns with typed metadata travelling
  * alongside; decode / feature extraction runs as a *batched* per-partition
  * stage so a real decoder (JNI image lib, ffmpeg bindings, ONNX runtime)
  * amortizes model/library init once per partition, not per row.
  *
  * Every image/audio format a web-scale corpus actually carries decodes
  * for REAL here, with zero external libraries. The formats the JDK cannot
  * read have hand-rolled decoders (each oracle-verified on decoded
  * pixel/sample statistics): netpbm P5/P6 (`decodePnm` — header parse,
  * comments, pixel walk, plus a real nearest-neighbor `resizePnm`), PCM16
  * WAV (`decodeWav` + integer decimator) and Y4M video (`decodeY4m` —
  * header tags, FRAME walk, planar luma sums). PNG, BMP, GIF and JPEG
  * decode through one read of the JDK's bundled `javax.imageio` codecs
  * (`readImage`, behind `decodeImageIO` and `decodeBmpFeatures`), so still
  * no external dependency; its stats are bit-stable within a JRE, and the
  * JPEG oracle fixtures use flat-gray images, which baseline JPEG's
  * DC-only quantization round-trips EXACTLY (spec-verified across all 256
  * grays), keeping the hash gate valid even for a lossy codec.
  * `decodeStub` remains only for payloads with no decoder at all (the
  * text-as-binary rows of `asBinaryMedia`) as deterministic
  * pseudo-features; the schema contract, partitioning, and batched
  * iterator shape around it are the real production plumbing.
  *
  * Every decoder runs inside one per-document stage (`perDoc`): the stage
  * selects only (doc_id, content) before its per-partition map (column
  * pruning reaches the parquet scan) and is map-only — no shuffle. A
  * modality is a plain function of the payload bytes handed to that
  * stage: an image decoder to `decodeImageFeatures`, a contour (audio
  * `pcmFrameLevels`, video `y4mLumaLevels`) to
  * `contourLevels`/`contourBands`. Repartition upstream only if payload
  * skew demands it.
  */
object Multimodal {

  // ImageIO's default stream cache is FILE-backed: every decode of an
  // in-memory byte array (and every ImageIO.write to an OutputStream)
  // round-trips through a temp file in java.io.tmpdir — a per-ROW disk
  // write+read+delete whose latency tracks local-disk pressure, observed
  // drifting q_jpeg_decode 0.8s -> 5.2s across a session with no code
  // change. Our payloads are always in-memory byte arrays, so the memory
  // cache is strictly better — and on a cluster it removes a local-disk
  // dependency and fd churn from every executor decode task. Object-init
  // runs once per JVM (driver and each executor) before any codec call.
  ImageIO.setUseCache(false)

  /** Schema of an extracted-feature row. */
  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("checksum", StringType, nullable = false),
    StructField("feature_0", DoubleType, nullable = true)))

  /** Wrap a text corpus as binary media rows (id, media_type, content).
    * Stands in for reading real image/audio blobs; `encode` produces the
    * opaque byte payload.
    */
  def asBinaryMedia(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      lit("text").as("media_type"),
      encode(col(textCol), "UTF-8").as("content"))

  /** STUB decoder — stands in for image decode / audio resample / frame
    * sampling. Deterministic: first byte scaled to [0,1]. A real deployment
    * replaces only this function.
    */
  private def decodeStub(content: Array[Byte]): Option[Double] =
    if (content.isEmpty) None else Some((content(0) & 0xff) / 255.0)

  /** Deterministic stub for media frame-count probing (stands in for
    * reading a container header): derived from payload length.
    */
  private def frameCount(nBytes: Column): Column = pmod(nBytes, lit(7)) + 1

  /** Frame sampling for video-like payloads: emit one row per sampled frame
    * (every `stride`-th of the payload's frames), with a per-frame content
    * key. The real decoder would emit frame bytes; the stub emits a
    * deterministic frame checksum. One-to-many generator shape: a pure
    * codegen explode, no shuffle — at 100 TB this is the stage that
    * multiplies rows, so it must never force a pre-shuffle.
    */
  def frameSample(media: DataFrame, stride: Int): DataFrame =
    media
      .withColumn("__nf", frameCount(length(col("content"))))
      .select(
        col("doc_id"), col("media_type"),
        explode(sequence(lit(0), col("__nf") - 1, lit(stride))).as("frame_idx"))
      .withColumn("frame_checksum",
        md5(concat(col("doc_id").cast("string"), lit("|"), col("frame_idx").cast("string"))))

  /** The per-document media stage over (doc_id, content) rows: `f` maps
    * one document to its output rows, run batched per partition (map-only;
    * where a real decoder amortizes its init once per partition) and
    * encoded with `schema`.
    */
  private def perDoc(media: DataFrame, schema: StructType)(
      f: (Long, Array[Byte]) => Iterator[Row]): DataFrame =
    media.select(col("doc_id"), col("content")).mapPartitions { rows =>
      rows.flatMap(r => f(r.getAs[Long](0), r.getAs[Array[Byte]](1)))
    }(org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema))

  /** One row per document: `f` gives the columns after doc_id, or None for
    * a payload it cannot decode, whose row then carries null features.
    */
  private def perDocRow(media: DataFrame, schema: StructType)(
      f: Array[Byte] => Option[Seq[Any]]): DataFrame =
    perDoc(media, schema) { (id, bytes) =>
      Iterator.single(Row.fromSeq(id +: f(bytes).getOrElse(Seq.fill(schema.length - 1)(null))))
    }

  /** A fixture corpus: one (doc_id, content) row per id in `ids(idCol)`,
    * carrying the payload `bytes(id)`.
    */
  private def fixture(ids: DataFrame, idCol: String)(bytes: Long => Array[Byte]): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long].map(id => (id, bytes(id)))
      .toDF("doc_id", "content")
  }

  /** Schema of a decoded-image feature row (see `decodeImageFeatures`). */
  val imageFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("mean_r", DoubleType, nullable = true),
    StructField("mean_g", DoubleType, nullable = true),
    StructField("mean_b", DoubleType, nullable = true)))

  /** A REAL image decoder for the netpbm family (binary P5 grayscale /
    * P6 RGB) — the one raster format parseable with zero libraries, so the
    * decode step is no longer a stub for it: proper header parsing
    * (whitespace + '#'-comment handling per the spec), dimension/maxval
    * extraction, and a pixel walk producing per-channel means. Returns
    * None on anything malformed or truncated (null feature columns).
    */
  /** Parse a binary netpbm header → (width, height, channels, bodyOffset),
    * with the body bounds-checked against the array. None on anything
    * malformed or truncated. Shared by the decode and resize paths.
    */
  private def parsePnmHeader(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    var i = 0
    def skipSpace(): Unit = {
      var go = true
      while (go && i < bytes.length) {
        val c = bytes(i).toChar
        if (c == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else if (c.isWhitespace) i += 1
        else go = false
      }
    }
    def token(): Option[Int] = {
      skipSpace()
      val start = i
      while (i < bytes.length && !bytes(i).toChar.isWhitespace) i += 1
      if (i == start) None
      else {
        val s = new String(bytes, start, i - start, "US-ASCII")
        try Some(s.toInt) catch { case _: NumberFormatException => None }
      }
    }
    if (bytes.length < 2 || bytes(0) != 'P') return None
    val channels = bytes(1) match {
      case '5' => 1
      case '6' => 3
      case _   => return None
    }
    i = 2
    val parsed = for {
      w <- token(); h <- token(); maxval <- token()
      if w > 0 && h > 0 && maxval > 0 && maxval < 256
    } yield (w, h)
    parsed.flatMap { case (w, h) =>
      val off = i + 1 // exactly one whitespace byte after maxval, per spec
      if (off + w.toLong * h * channels > bytes.length) None
      else Some((w, h, channels, off))
    }
  }

  private[graft] def decodePnm(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Double])] =
    parsePnmHeader(bytes).map { case (w, h, channels, off) =>
      val need = w.toLong * h * channels
      val sums = new Array[Double](channels)
      val counts = new Array[Long](channels)
      var p = 0L
      while (p < need) {
        val c = (p % channels).toInt
        sums(c) += (bytes(off + p.toInt) & 0xff)
        counts(c) += 1
        p += 1
      }
      (w, h, channels, sums.zip(counts).map { case (s, n) => s / n })
    }

  /** REAL nearest-neighbor resize for the netpbm path: target pixel
    * (x, y) reads source pixel (x·sw/tw, y·sh/th) (integer floor
    * division, the standard nearest-neighbor map), and the resized image
    * is summarized by its per-channel means. Per-row work is O(tw·th),
    * independent of source size — the whole point of resizing early in a
    * pipeline.
    */
  private[graft] def resizePnm(
      bytes: Array[Byte], tw: Int, th: Int): Option[(Int, Int, Int, Array[Double])] =
    parsePnmHeader(bytes).map { case (sw, sh, channels, off) =>
      val sums = new Array[Double](channels)
      var y = 0
      while (y < th) {
        // Long products: a hostile-but-header-valid tall/wide source
        // (e.g. w=1, h~10M) times a large target dim overflows Int and
        // would index negatively — same guard class as decodeWav.
        val sy = (y.toLong * sh / th).toInt
        var x = 0
        while (x < tw) {
          val sx = (x.toLong * sw / tw).toInt
          val base = (off + (sy.toLong * sw + sx) * channels).toInt
          var c = 0
          while (c < channels) { sums(c) += (bytes(base + c) & 0xff); c += 1 }
          x += 1
        }
        y += 1
      }
      val n = tw.toDouble * th
      (sw, sh, channels, sums.map(_ / n))
    }

  /** Deterministic P6 image fixture: a real, well-formed PPM payload per id
    * (width 4 + id%5, height 3 + id%4, pixel byte k = (id*7 + k) % 256) —
    * so the decoded features have a closed form an oracle can replay, while
    * the bytes exercise the actual parser.
    */
  def pnmFixture(ids: DataFrame, idCol: String): DataFrame =
    fixture(ids, idCol)(id => ppm(id)(k => id * 7 + k))

  /** A P6 payload keyed by `key` (width 4 + key%5, height 3 + key%4) whose
    * raster byte k is `byte(k) % 256` — the writer both PPM fixtures share.
    */
  private def ppm(key: Long)(byte: Int => Long): Array[Byte] = {
    val w = (4 + key % 5).toInt
    val h = (3 + key % 4).toInt
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    header ++ Array.tabulate(w * h * 3)(k => (byte(k) % 256).toByte)
  }

  /** Batched per-partition image decode over (doc_id, content) rows with
    * `decode` inside — [[decodePnm]] or [[decodeImageIO]]: each returns
    * (width, height, channels, per-channel means), and green/blue stay
    * null below 3 channels. Undecodable payloads yield
    * null features.
    */
  def decodeImageFeatures(
      media: DataFrame,
      decode: Array[Byte] => Option[(Int, Int, Int, Array[Double])]): DataFrame =
    perDocRow(media, imageFeatureSchema)(decode(_).map { case (w, h, ch, means) =>
      Seq[Any](w, h, ch) ++ rgbMeans(ch, means)
    })

  /** Red/green/blue mean columns; a gray raster has only the first. */
  private def rgbMeans(ch: Int, means: Array[Double]): Seq[Any] =
    Seq(means(0), if (ch >= 3) means(1) else null, if (ch >= 3) means(2) else null)

  /** Schema of a resized-image feature row (see `resizePnmFeatures`). */
  val resizeFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("src_width", IntegerType, nullable = true),
    StructField("src_height", IntegerType, nullable = true),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("mean_r", DoubleType, nullable = true),
    StructField("mean_g", DoubleType, nullable = true),
    StructField("mean_b", DoubleType, nullable = true)))

  /** Batched per-partition nearest-neighbor resize over (doc_id, content)
    * rows — the decode-stage shape with the real resampler inside; target
    * geometry travels as arguments, undecodable payloads yield nulls.
    */
  def resizePnmFeatures(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0, s"bad target: ${targetW}x$targetH")
    perDoc(media, resizeFeatureSchema) { (id, bytes) =>
      Iterator.single(resizePnm(bytes, targetW, targetH) match {
        case Some((sw, sh, ch, means)) =>
          Row.fromSeq(Seq[Any](id, sw, sh, targetW, targetH) ++ rgbMeans(ch, means))
        case None => Row(id, null, null, targetW, targetH, null, null, null)
      })
    }
  }

  /** Schema of a perceptual-hash row (see `dHashFeatures`). The 64-bit
    * dHash travels as two unsigned 32-bit words in BIGINTs — a single
    * BIGINT cannot carry bit 63 portably (the oracle's 2^63 overflows).
    */
  val imageHashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("dhash_hi", LongType, nullable = true),
    StructField("dhash_lo", LongType, nullable = true)))

  /** 64-bit difference hash (dHash) of a decodable netpbm raster — the
    * standard perceptual fingerprint image-dedup pipelines run before
    * pairing (LAION-style image-level near-dup). The raster is sampled on
    * a 9x8 nearest-neighbor grid (the same `x*sw/tw` floor map as
    * [[resizePnm]]), luminance is the integer CHANNEL SUM (dividing by
    * channel count is a monotone constant — comparisons, and therefore
    * bits, are unchanged, and the arithmetic stays integer-exact for the
    * oracle), and bit y*8+x is set iff the right neighbor is strictly
    * brighter: grid(y, x+1) > grid(y, x).
    *
    * @return (hi, lo) unsigned 32-bit words: bits 32..63 and 0..31
    */
  private[graft] def dHash(bytes: Array[Byte]): Option[(Int, Int, Long, Long)] =
    parsePnmHeader(bytes).map { case (sw, sh, channels, off) =>
      val lum = Array.ofDim[Int](8, 9)
      var y = 0
      while (y < 8) {
        val sy = (y.toLong * sh / 8).toInt
        var x = 0
        while (x < 9) {
          val sx = (x.toLong * sw / 9).toInt
          val base = (off + (sy.toLong * sw + sx) * channels).toInt
          var s = 0
          var c = 0
          while (c < channels) { s += bytes(base + c) & 0xff; c += 1 }
          lum(y)(x) = s
          x += 1
        }
        y += 1
      }
      var hi = 0L
      var lo = 0L
      var b = 0
      while (b < 64) {
        if (lum(b / 8)(b % 8 + 1) > lum(b / 8)(b % 8)) {
          if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
        }
        b += 1
      }
      (sw, sh, hi, lo)
    }

  /** Deterministic P6 fixture with PLANTED near-duplicates: image content
    * is keyed by `base = id % 250` (dims and pixel pattern), shifted by a
    * global `+ id/250 % 3` byte offset — so id and id+250 render
    * near-identical rasters (dHash differs only where the +1 shift crosses
    * a 255→0 wrap between adjacent grid samples) and same-shift copies are
    * exact duplicates. The dup-group structure an image-dedup query needs,
    * with a closed form the oracle replays.
    */
  def dhashFixture(ids: DataFrame, idCol: String): DataFrame =
    fixture(ids, idCol) { id =>
      val b = id % 250
      val pert = (id / 250) % 3
      // b-dependent linear AND quadratic structure (not just a constant
      // offset): distinct content keys render distinct gradient shapes, so
      // near-dup pairs are dominated by the PLANTED +pert shifts rather
      // than every same-size image pairing with every other
      ppm(b)(k => b * 7 + k.toLong * (2 + b % 16) + k.toLong * k * (b % 9) + pert)
    }

  /** Batched per-partition perceptual hashing — decode-stage shape with
    * [[dHash]] inside; undecodable payloads yield null hash words.
    */
  def dHashFeatures(media: DataFrame): DataFrame =
    perDocRow(media, imageHashSchema)(dHash(_).map(_.productIterator.toSeq))

  /** The 4x16-bit band explode of a [[dHashFeatures]] frame: one row per
    * (doc, band) with the full hash carried alongside for the verify
    * predicate.
    */
  private def imageBands(hashes: DataFrame): DataFrame =
    hashes
      .filter(col("dhash_hi").isNotNull)
      .select(col("doc_id"), col("dhash_hi"), col("dhash_lo"),
        posexplode(array(
          col("dhash_lo").bitwiseAND(lit(0xffffL)),
          shiftright(col("dhash_lo"), 16).bitwiseAND(lit(0xffffL)),
          col("dhash_hi").bitwiseAND(lit(0xffffL)),
          shiftright(col("dhash_hi"), 16).bitwiseAND(lit(0xffffL))))
          .as(Seq("band_idx", "band_val")))

  /** Image near-dup candidate pairs over [[dHashFeatures]] output by
    * banded dHash join: 4 bands of 16 bits; pairs sharing an exact band
    * are verified with full 64-bit hamming distance. By pigeonhole the
    * banding is EXACT (equals brute force) for `maxHamming <= 3` — four
    * disjoint bands cannot all differ when at most 3 bits do — which is
    * why the threshold is capped; raise the band count before the
    * threshold. Same self-join shape as the simhash block join. The probe
    * side is broadcast: no task owns a band value, so a hot signature (a
    * flat image) cannot funnel quadratic work into one task.
    */
  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit banding is exact only for maxHamming <= 3, got $maxHamming")
    val e = Materialize.cache(imageBands(hashes))
    val a = e.select(col("band_idx"), col("band_val"),
      col("doc_id").as("a_id"), col("dhash_hi").as("__ahi"), col("dhash_lo").as("__alo"))
    val b = e.select(col("band_idx").as("__bi"), col("band_val").as("__bv"),
      col("doc_id").as("b_id"), col("dhash_hi").as("__bhi"), col("dhash_lo").as("__blo"))
    val ham = (bit_count(col("__ahi").bitwiseXOR(col("__bhi"))) +
      bit_count(col("__alo").bitwiseXOR(col("__blo")))).cast("int")
    a.join(broadcast(b),
        col("band_idx") === col("__bi") && col("band_val") === col("__bv") &&
        col("a_id") < col("b_id") && ham <= maxHamming)
      .select(col("a_id"), col("b_id"), ham.as("hamming"))
      .distinct()
  }

  /** Schema of a decoded-BMP feature row (see `decodeBmpFeatures`). */
  val bmpFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("mean_b", DoubleType, nullable = true),
    StructField("mean_g", DoubleType, nullable = true),
    StructField("mean_r", DoubleType, nullable = true),
    StructField("b00", IntegerType, nullable = true),
    StructField("g00", IntegerType, nullable = true),
    StructField("r00", IntegerType, nullable = true)))

  /** Deterministic BMP fixture: a real, well-formed bottom-up 24-bit BMP
    * per id (width 4 + id%5, height 3 + id%4; the LOGICAL top-down pixel
    * p = y*w + x carries B/G/R = (id*11 + 5p + 0/1/2) % 256) — padding
    * and row inversion are real, and the decoded features have a closed
    * form the oracle replays from the logical-position formula alone.
    */
  def bmpFixture(ids: DataFrame, idCol: String): DataFrame =
    fixture(ids, idCol) { id =>
      val w = (4 + id % 5).toInt
      val h = (3 + id % 4).toInt
      val stride = ((3 * w + 3) / 4) * 4
      val size = 54 + stride * h
      val b = new Array[Byte](size)
      def putU16(i: Int, v: Int): Unit = { b(i) = v.toByte; b(i + 1) = (v >> 8).toByte }
      def putU32(i: Int, v: Long): Unit = {
        b(i) = v.toByte; b(i + 1) = (v >> 8).toByte
        b(i + 2) = (v >> 16).toByte; b(i + 3) = (v >> 24).toByte
      }
      b(0) = 'B'; b(1) = 'M'
      putU32(2, size); putU32(10, 54)
      putU32(14, 40); putU32(18, w); putU32(22, h)
      putU16(26, 1); putU16(28, 24); putU32(30, 0); putU32(34, stride.toLong * h)
      var y = 0
      while (y < h) {
        val base = 54 + (h - 1 - y) * stride // bottom-up storage
        var x = 0
        while (x < w) {
          val p = y * w + x
          b(base + 3 * x) = ((id * 11 + 5 * p) % 256).toByte
          b(base + 3 * x + 1) = ((id * 11 + 5 * p + 1) % 256).toByte
          b(base + 3 * x + 2) = ((id * 11 + 5 * p + 2) % 256).toByte
          x += 1
        }
        y += 1
      }
      b
    }

  /** Batched per-partition BMP decode through [[decodeImageIO]]'s read
    * (`readImage`), reported in BMP's byte order: blue, green and red
    * means plus the LOGICAL top-left (0,0) pixel. The corner is
    * deliberately position-sensitive, so a row-order or stride bug cannot
    * hide behind order-independent means. Null features for a payload
    * ImageIO cannot read or one with fewer than 3 color components.
    */
  def decodeBmpFeatures(media: DataFrame): DataFrame =
    perDocRow(media, bmpFeatureSchema)(
      readImage(_).filter(_.getColorModel.getNumComponents >= 3).map { img =>
        val bgr = Seq(2, 1, 0)
        Seq[Any](img.getWidth, img.getHeight) ++
          bgr.map(bandMean(img, _)) ++ bgr.map(sample8(img, 0, 0, _))
      })

  /** Deterministic PNG fixture: a real, spec-complete RGB PNG per id
    * (width 4 + id%5, height 3 + id%4; logical raster byte k = (id*13 +
    * 5k) % 256) — every scanline is filtered with type y % 5 before
    * deflation, so all five unfilter paths are exercised against the
    * closed-form oracle, the zlib stream is a REAL Deflater stream split
    * across two IDAT chunks, and chunk CRCs are real CRC32s.
    */
  def pngFixture(ids: DataFrame, idCol: String): DataFrame =
    fixture(ids, idCol) { id =>
      val w = (4 + id % 5).toInt
      val h = (3 + id % 4).toInt
      val ch = 3
      val stride = w * ch
      // logical raster, then per-row filtering (the ENCODE direction:
      // filtered = raw - predictor, mod 256)
      def rv(p: Int): Int = ((id * 13 + 5 * p) % 256).toInt
      val filtered = new Array[Byte]((stride + 1) * h)
      var y = 0
      while (y < h) {
        val ft = y % 5
        filtered(y * (stride + 1)) = ft.toByte
        var x = 0
        while (x < stride) {
          val cur = rv(y * stride + x)
          val a = if (x >= ch) rv(y * stride + x - ch) else 0
          val b = if (y > 0) rv((y - 1) * stride + x) else 0
          val c = if (x >= ch && y > 0) rv((y - 1) * stride + x - ch) else 0
          val pred = ft match {
            case 0 => 0
            case 1 => a
            case 2 => b
            case 3 => (a + b) >> 1
            case 4 =>
              val p = a + b - c
              val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
              if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          }
          filtered(y * (stride + 1) + 1 + x) = ((cur - pred) & 0xff).toByte
          x += 1
        }
        y += 1
      }
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(filtered); deflater.finish()
      val zbuf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](512)
      while (!deflater.finished()) zbuf.write(tmp, 0, deflater.deflate(tmp))
      deflater.end()
      val z = zbuf.toByteArray
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      def chunk(ctype: String, data: Array[Byte]): Unit = {
        def u32be(v: Long): Array[Byte] =
          Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
        out.write(u32be(data.length))
        val tb = ctype.getBytes("US-ASCII")
        out.write(tb); out.write(data)
        val crc = new java.util.zip.CRC32()
        crc.update(tb); crc.update(data)
        out.write(u32be(crc.getValue))
      }
      val ihdr = new Array[Byte](13)
      ihdr(0) = (w >> 24).toByte; ihdr(1) = (w >> 16).toByte
      ihdr(2) = (w >> 8).toByte; ihdr(3) = w.toByte
      ihdr(4) = (h >> 24).toByte; ihdr(5) = (h >> 16).toByte
      ihdr(6) = (h >> 8).toByte; ihdr(7) = h.toByte
      ihdr(8) = 8; ihdr(9) = 2 // bit depth 8, color type 2 (truecolor)
      chunk("IHDR", ihdr)
      val cut = z.length / 2 // split the zlib stream: multi-IDAT is real
      chunk("IDAT", z.slice(0, cut))
      chunk("IDAT", z.slice(cut, z.length))
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }

  /** The first image in `bytes`, read by the JDK's bundled `javax.imageio`
    * codecs (PNG, JPEG, GIF, BMP; `java.desktop`, no external library),
    * with a palette raster's indices expanded to their RGB colors. None on
    * bytes no reader takes or a read that fails, and on a header raster
    * above 64 M pixels: a decompression bomb (tiny bytes, enormous declared
    * raster) is rejected from the HEADER, before ImageIO allocates w*h
    * pixels — the absurd-dimension guard decodeWav/decodeY4m apply to
    * their headers. The one image read in the engine.
    */
  private def readImage(bytes: Array[Byte]): Option[BufferedImage] =
    try {
      val iis = ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(bytes))
      // everything from reader lookup on sits inside the iis-closing try,
      // so an early return on junk bytes closes the stream too
      val img = try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val (dw, dh) = (reader.getWidth(0), reader.getHeight(0))
          if (dw <= 0 || dh <= 0 || dw.toLong * dh > 64L * 1024 * 1024) return None
          reader.read(0)
        } finally reader.dispose()
      } finally iis.close()
      Option(img).map(i => i.getColorModel match {
        case icm: IndexColorModel => icm.convertToIntDiscrete(i.getRaster, false)
        case _ => i
      })
    } catch { case _: Exception => None }

  /** Band `b`'s raster sample at (x, y), as its top 8 bits when wider. The
    * raster, not `getRGB`, which converts a linear-gray raster to sRGB
    * (sample 10 reads 56).
    */
  private def sample8(img: BufferedImage, x: Int, y: Int, b: Int): Int =
    img.getRaster.getSample(x, y, b) >> math.max(0, img.getColorModel.getComponentSize(b) - 8)

  /** Mean of band `b`'s samples over the whole raster (see `sample8`). */
  private def bandMean(img: BufferedImage, b: Int): Double = {
    var sum = 0L
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) sum += sample8(img, x, y, b)
    sum.toDouble / (img.getWidth.toLong * img.getHeight)
  }

  /** General compressed-image decode (PNG, JPEG, GIF, BMP) through
    * `readImage`. Returns (width, height, channels, per-channel means):
    * channels is the color model's component count (PNG gray 1, RGB 3,
    * RGBA 4; JPEG and palette GIF 3), with one mean per component, so an
    * RGBA mean list ends with alpha. None on anything `readImage` rejects.
    *
    * The means are bit-stable for a given JRE; lossy-codec output can
    * differ ACROSS codec versions, which is why the oracle fixtures are
    * flat-gray JPEGs (DC-only blocks — quantization round-trips them
    * exactly; verified for all 256 grays and partial edge blocks in
    * MultimodalSpec).
    */
  private[graft] def decodeImageIO(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Double])] =
    readImage(bytes).map { img =>
      val ch = img.getColorModel.getNumComponents
      (img.getWidth, img.getHeight, ch, Array.tabulate(ch)(bandMean(img, _)))
    }

  /** Deterministic JPEG fixture corpus: one flat-gray baseline JPEG per id
    * (gray = id % 256, dims 8+id%9 x 6+id%7 — partial edge blocks
    * included), encoded with the same JDK codec. Flat gray is the
    * subset a LOSSY codec reproduces exactly (all-AC-zero blocks), which
    * is what makes a hash-grade oracle possible for JPEG at all.
    */
  def jpegFixture(ids: DataFrame, idCol: String): DataFrame =
    fixture(ids, idCol) { id =>
      val w = (8 + id % 9).toInt
      val h = (6 + id % 7).toInt
      val g = (id % 256).toInt
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val rgb = (g << 16) | (g << 8) | g
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }

  /** Deterministic GIF fixture corpus: a per-id two-gray checkerboard-ish
    * pattern (pixel p: gray 40 or 200 by parity of id*7 + 3p). GIF is
    * LOSSLESS for <=256-color rasters, so unlike the JPEG fixture this one
    * exercises a patterned (non-flat) image and still replays exactly.
    * Heights stay >= 6: the JDK's GIF WRITER corrupts rows for rasters of
    * height <= 4 (measured: every width 3..12 at h=3,4 round-trips wrong;
    * h >= 5 is clean across 600 fixture ids) — an encoder quirk, not a
    * decode limitation, but the fixture must avoid it to stay exact.
    */
  def gifFixture(ids: DataFrame, idCol: String): DataFrame =
    fixture(ids, idCol) { id =>
      val w = (5 + id % 6).toInt
      val h = (6 + id % 5).toInt
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var p = 0
      while (p < w * h) {
        val g = if ((id * 7 + 3 * p) % 2 == 0) 40 else 200
        img.setRGB(p % w, p / w, (g << 16) | (g << 8) | g)
        p += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, "gif", bos)
      bos.toByteArray
    }

  /** Schema of a decoded-audio feature row (see `decodeWavFeatures`). */
  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("bits", IntegerType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("duration_sec", DoubleType, nullable = true),
    StructField("mean_amp", DoubleType, nullable = true),
    StructField("rms", DoubleType, nullable = true)))

  /** A REAL audio decoder for PCM16 WAV (RIFF container) — like netpbm,
    * parseable with zero libraries: RIFF/WAVE magic check, chunk walk
    * (unknown chunks skipped by their declared size, word-aligned), fmt
    * fields read little-endian, and a signed-16-bit sample walk producing
    * count, mean amplitude, and RMS. None on malformed/truncated input.
    */
  /** RIFF/WAVE chunk walk → (channels, rate, bits, dataOffset, nSamples)
    * for PCM16 payloads. None on malformed/truncated/hostile input.
    * Shared by the decode and decimation paths.
    */
  private def parseWavPcm16(bytes: Array[Byte]): Option[(Int, Int, Int, Int, Int)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def u16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def u32(i: Int): Long = u16(i).toLong | (u16(i + 2).toLong << 16)
    def tag(i: Int): String = new String(bytes, i, 4, "US-ASCII")
    if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var i = 12
    var fmt: Option[(Int, Int, Int)] = None // (channels, rate, bits)
    var data: Option[(Int, Int)] = None     // (offset, size)
    while (i + 8 <= bytes.length && (fmt.isEmpty || data.isEmpty)) {
      val id = tag(i)
      // Chunk size stays a Long until bounds-checked: a hostile/corrupt u32
      // size >= 2^31 must not wrap negative, slip past the truncation guard,
      // and stall the chunk walk (i would stop advancing for e.g. 0xFFFFFFF8).
      val sizeL = u32(i + 4)
      val body = i + 8
      if (body.toLong + sizeL > bytes.length) return None // truncated chunk
      val size = sizeL.toInt // safe: <= bytes.length - body < 2^31 after the guard
      if (id == "fmt " && size >= 16) {
        if (u16(body) != 1) return None // PCM only
        fmt = Some((u16(body + 2), u32(body + 4).toInt, u16(body + 14)))
      } else if (id == "data") data = Some((body, size))
      i = body + size + (size & 1) // chunks are word-aligned
    }
    for {
      (channels, rate, bits) <- fmt
      (off, size) <- data
      if bits == 16 && channels > 0 && rate > 0 && size % 2 == 0
    } yield (channels, rate, bits, off, size / 2)
  }

  private def pcm16At(bytes: Array[Byte], off: Int, k: Int): Int =
    (((bytes(off + 2 * k) & 0xff) | ((bytes(off + 2 * k + 1) & 0xff) << 8)).toShort).toInt

  private[graft] def decodeWav(bytes: Array[Byte]): Option[(Int, Int, Int, Long, Double, Double)] =
    parseWavPcm16(bytes).map { case (channels, rate, bits, off, n) =>
      var sum = 0.0
      var sumSq = 0.0
      var k = 0
      while (k < n) {
        val s = pcm16At(bytes, off, k)
        sum += s
        sumSq += s.toDouble * s
        k += 1
      }
      val mean = if (n > 0) sum / n else 0.0
      val rms = if (n > 0) math.sqrt(sumSq / n) else 0.0
      (channels, rate, bits, n.toLong, mean, rms)
    }

  /** REAL audio downsampling by integer decimation: keep every `factor`-th
    * sample (the zero-filter decimator — a production resampler adds an
    * anti-aliasing low-pass; the sample WALK and rate arithmetic here are
    * the real plumbing). Output rate = rate/factor (factor must divide the
    * rate), with mean/RMS of the decimated signal. Per-row work is
    * O(n/factor) — decimating early is the audio pipeline's width cut,
    * like image resize.
    */
  private[graft] def decimateWav(
      bytes: Array[Byte], factor: Int): Option[(Int, Int, Long, Double, Double)] =
    parseWavPcm16(bytes).flatMap { case (channels, rate, _, off, n) =>
      if (factor <= 0 || channels != 1 || rate % factor != 0) None
      else {
        val m = (n + factor - 1) / factor // samples at 0, factor, 2*factor, ...
        var sum = 0.0
        var sumSq = 0.0
        var k = 0
        while (k < n) {
          val s = pcm16At(bytes, off, k)
          sum += s
          sumSq += s.toDouble * s
          k += factor
        }
        val mean = if (m > 0) sum / m else 0.0
        val rms = if (m > 0) math.sqrt(sumSq / m) else 0.0
        Some((rate / factor, rate, m.toLong, mean, rms))
      }
    }

  /** Schema of a decimated-audio feature row (see `decimateWavFeatures`). */
  val decimateFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("sample_rate_out", IntegerType, nullable = true),
    StructField("sample_rate_in", IntegerType, nullable = true),
    StructField("n_samples_out", LongType, nullable = true),
    StructField("mean_amp", DoubleType, nullable = true),
    StructField("rms", DoubleType, nullable = true)))

  /** Batched per-partition audio decimation — the decode-stage shape with
    * the real decimator inside; undecodable payloads yield nulls.
    */
  def decimateWavFeatures(media: DataFrame, factor: Int): DataFrame =
    perDocRow(media, decimateFeatureSchema)(decimateWav(_, factor).map(_.productIterator.toSeq))

  /** Deterministic PCM16 WAV fixture: a real, well-formed mono 8 kHz
    * payload per id (n = 16 + id%17 samples, sample k =
    * ((id*13 + k*5) % 4096) - 2048) — closed-form decoded features, real
    * bytes through the actual RIFF parser.
    */
  def wavFixture(ids: DataFrame, idCol: String): DataFrame =
    fixture(ids, idCol)(id => pcm16Wav(id)(k => ((id * 13 + k * 5) % 4096).toInt - 2048))

  /** A mono 8 kHz PCM16 WAV payload keyed by `key` (16 + key%17 samples,
    * sample k = `sample(k)`) — the RIFF writer both WAV fixtures share.
    */
  private def pcm16Wav(key: Long)(sample: Int => Int): Array[Byte] = {
    val n = (16 + key % 17).toInt
    val rate = 8000
    val dataSize = n * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    (0 until n).foreach(k => buf.putShort(sample(k).toShort))
    buf.array()
  }

  /** Batched per-partition audio decode — same map-only shape as the image
    * path, real RIFF/PCM parser inside.
    */
  def decodeWavFeatures(media: DataFrame): DataFrame =
    perDocRow(media, audioFeatureSchema)(decodeWav(_).map { case (ch, rate, bits, n, mean, rms) =>
      Seq[Any](rate, ch, bits, n, n.toDouble / rate, mean, rms)
    })

  /** Schema of a windowed audio-energy row (see `audioEnergy`). */
  val audioEnergySchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("start_sample", LongType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("mean_amp", DoubleType, nullable = false),
    StructField("rms", DoubleType, nullable = false)))

  /** Windowed energy contour over mono PCM16 WAV — the frame/hop RMS pass
    * every audio-curation pipeline runs before VAD / silence trimming /
    * segment selection (the FFT front-end swaps in where this frames).
    * Frames start at every `hop` samples while inside the signal; the tail
    * frame is partial. Per-frame mean and RMS are each ONE division of an
    * exact integer sum (sum and sum-of-squares accumulate in Long — at
    * PCM16 amplitude a frame would need 2^33 samples to overflow), and
    * IEEE sqrt is bit-exact, so the doubles replay in the oracle.
    *
    * Map-only flatMap generator like [[frameSampleY4m]]: row multiplication
    * happens at the frame grain with no shuffle — at 100 TB the contour is
    * parquet-scan-bound and embarrassingly parallel. Non-mono or
    * undecodable payloads yield no rows (callers needing an audit join
    * back against the id spine).
    */
  def audioEnergy(media: DataFrame, frameSamples: Int, hop: Int): DataFrame = {
    require(frameSamples > 0 && hop > 0,
      s"need positive frame/hop: $frameSamples / $hop")
    perDoc(media, audioEnergySchema) { (id, bytes) =>
      parseWavPcm16(bytes) match {
        case Some((channels, _, _, off, n)) if channels == 1 && n > 0 =>
          Iterator.range(0, n, hop).zipWithIndex.map { case (s0, f) =>
            val end = math.min(s0 + frameSamples, n)
            var s1 = 0L
            var s2 = 0L
            var k = s0
            while (k < end) {
              val v = pcm16At(bytes, off, k)
              s1 += v
              s2 += v.toLong * v
              k += 1
            }
            val m = end - s0
            Row(id, f, s0.toLong, m, s1.toDouble / m, math.sqrt(s2.toDouble / m))
          }
        case _ => Iterator.empty
      }
    }
  }

  /** Deterministic PCM16 WAV fixture with PLANTED near-duplicates — the
    * audio sibling of [[dhashFixture]]: signal content is keyed by
    * `base = id % 250` (length, sample pattern, AND a per-segment amplitude
    * envelope — flat noise would give every frame the same energy and make
    * every contour collide), offset by a global `+ id/250 % 3` shift, so id
    * and id+250 carry near-identical energy contours (quantized levels
    * differ by at most one step) and same-shift copies are exact
    * duplicates. All divisions are of non-negative integers — Scala `/`
    * truncation and SQL floor division agree only there.
    */
  def wavDupFixture(ids: DataFrame, idCol: String): DataFrame =
    fixture(ids, idCol) { id =>
      val b = id % 250
      val pert = ((id / 250) % 3).toInt
      pcm16Wav(b) { k =>
        val raw = ((b * 13 + k * 5) % 4096).toInt
        val amp = ((b * 7 + k / 4) % 5 + 1).toInt
        raw * amp / 5 - 2048 + pert
      }
    }

  /** A contour: a document's payload reduced to ordered per-frame integer
    * levels, or None when the payload yields none. The modality-specific
    * half of [[contourLevels]]/[[contourBands]]: [[pcmFrameLevels]] for
    * audio, [[y4mLumaLevels]] for video.
    */
  type Contour = Array[Byte] => Option[Array[Long]]

  /** The audio contour: each frame's mean-square energy over mono PCM16
    * WAV (frames start every `hop` samples; the tail frame is partial),
    * quantized by INTEGER division (`(s2/m)/qStep`, all Long — no float
    * anywhere, so levels replay exactly). None for non-mono / undecodable /
    * empty payloads.
    */
  private[graft] def pcmFrameLevels(frameSamples: Int, hop: Int, qStep: Long): Contour = {
    require(frameSamples > 0 && hop > 0 && qStep > 0,
      s"need positive params: $frameSamples / $hop / $qStep")
    bytes => parseWavPcm16(bytes) match {
      case Some((channels, _, _, off, n)) if channels == 1 && n > 0 =>
        Some(Iterator.range(0, n, hop).map { s0 =>
          val end = math.min(s0 + frameSamples, n)
          var s2 = 0L
          var k = s0
          while (k < end) {
            val v = pcm16At(bytes, off, k)
            s2 += v.toLong * v
            k += 1
          }
          (s2 / (end - s0)) / qStep
        }.toArray)
      case _ => None
    }
  }

  /** Schema of a quantized frame-level row (see `contourLevels`). */
  val contourLevelSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("level", LongType, nullable = false)))

  /** Per-frame `contour` levels — the exact values [[contourBands]] bands,
    * emitted at frame grain for the verify stage of
    * [[contourNearDupPairs]]. Map-only; a payload without a contour yields
    * no rows.
    */
  def contourLevels(media: DataFrame, contour: Contour): DataFrame =
    perDoc(media, contourLevelSchema) { (id, bytes) =>
      contour(bytes).iterator.flatMap(_.iterator.zipWithIndex.map {
        case (lv, f) => Row(id, f, lv)
      })
    }

  /** Schema of a banded contour-signature row (see `contourBands`). */
  val contourBandSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("band_idx", IntegerType, nullable = false),
    StructField("band_sig", StringType, nullable = false)))

  /** Banded fingerprint over a `contour` — the Shazam/Chromaprint-shaped
    * front end of audio (and video) near-dup detection: `bandFrames`
    * consecutive levels concatenate into one band signature string. Two
    * recordings of the same content land on identical signatures for most
    * bands; a volume (or luma) perturbation flips only the bands where a
    * level crosses a quantization boundary — exactly the MinHash-LSH
    * banding contract, transplanted to media.
    *
    * Map-only like [[audioEnergy]]: a doc's frames are computed inside one
    * flatMap call, so banding happens in-row and the operator emits band
    * rows with ZERO shuffles — at 100 TB the fingerprint pass is
    * parquet-scan-bound. A payload without a contour yields no rows.
    */
  def contourBands(media: DataFrame, contour: Contour, bandFrames: Int): DataFrame = {
    require(bandFrames > 0, s"need positive bandFrames: $bandFrames")
    perDoc(media, contourBandSchema) { (id, bytes) =>
      contour(bytes).iterator.flatMap(_.grouped(bandFrames).zipWithIndex.map {
        case (band, bi) => Row(id, bi, band.mkString("-"))
      })
    }
  }

  /** Banded-contour near-dup pairs, the audio and video detector: any
    * modality that reduces a document to an ordered integer-level contour
    * (doc_id, frame_idx, level) plus banded signatures
    * (doc_id, band_idx, band_sig) — [[contourLevels]]/[[contourBands]]
    * over an audio or a video [[Contour]] — gets the same join. Banded
    * CANDIDATES (pairs sharing at least `minBands` exact (band_idx,
    * band_sig) cells) are verified exactly against the frame-level contour
    * — same frame count and every frame's level within `maxLevelDiff`. The
    * candidate/verify split is the MinHash-LSH contract transplanted to
    * audio and video: coarse bands give recall, the verify join kills the
    * coincidental band collisions, and verification cost is bounded by
    * CANDIDATE mass, never all-pairs.
    *
    * Same self-join scale shape as [[imageNearDupPairs]], with the
    * fingerprint frame broadcast to the probe (immune to hot signature
    * keys — silence is the classic offender).
    *
    * @return (a_id, b_id, n_bands, n_frames, max_level_diff)
    */
  def contourNearDupPairs(
      fps: DataFrame,
      levels: DataFrame,
      minBands: Int,
      maxLevelDiff: Long): DataFrame = {
    require(minBands > 0 && maxLevelDiff >= 0,
      s"need positive thresholds: $minBands / $maxLevelDiff")
    // contourNearDupGroups passes its own cached ffps here: `cache`
    // returns an already cached frame as it is
    val e = Materialize.cache(fps)
    val lv = Materialize.cache(levels)
    val b = e.select(col("band_idx").as("__bi"), col("band_sig").as("__bs"),
      col("doc_id").as("b_id"))
    val cand = e.select(col("band_idx"), col("band_sig"), col("doc_id").as("a_id"))
      .join(broadcast(b),
        col("band_idx") === col("__bi") && col("band_sig") === col("__bs") &&
        col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).cast("int").as("n_bands"))
      .filter(col("n_bands") >= minBands)
    val nf = lv.groupBy(col("doc_id")).agg(count(lit(1)).as("__nf"))
    val la = lv.select(col("doc_id").as("a_id"), col("frame_idx"), col("level").as("__la"))
    val lb = lv.select(col("doc_id").as("b_id"), col("frame_idx"), col("level").as("__lb"))
    cand
      .join(la, Seq("a_id"))
      .join(lb, Seq("b_id", "frame_idx"))
      .groupBy(col("a_id"), col("b_id"), col("n_bands"))
      .agg(count(lit(1)).cast("int").as("n_frames"),
        max(abs(col("__la") - col("__lb"))).as("max_level_diff"))
      .join(nf.select(col("doc_id").as("a_id"), col("__nf").as("__na")), Seq("a_id"))
      .join(nf.select(col("doc_id").as("b_id"), col("__nf").as("__nb")), Seq("b_id"))
      // full-overlap check: the inner frame join only sees shared indices,
      // so equal counts on both sides == identical frame grids
      .filter(col("__na") === col("__nb") && col("n_frames") === col("__na") &&
        col("max_level_diff") <= maxLevelDiff)
      .select(col("a_id"), col("b_id"), col("n_bands"), col("n_frames"),
        col("max_level_diff"))
  }

  /** Image near-dup GROUPS over [[dHashFeatures]] output — the scale-safe
    * contract for duplicate-saturated corpora, where the PAIR output of
    * [[imageNearDupPairs]] is inherently C(f,2)-quadratic per copy-family
    * of size f (measured 5.3M pair rows at replication factor 10). Same
    * output contract as `ConnectedComponents.dedupGroups`:
    * (member_id, group_id, is_canonical), one row per doc in the near-dup
    * graph — LINEAR in corpus size at any replication factor.
    *
    * Scale design (the text-family `TextDedup`/family-collapse pattern):
    * docs with an identical 64-bit dHash form a FAMILY (the pair relation
    * depends only on the hash, so identical hashes relate identically to
    * everything); the banded hamming join and the min-label connected
    * components both run at family grain — bounded by distinct-content
    * count, independent of replication — and members expand back at the
    * end. A multi-member family is a hamming-0 clique, so its members are
    * in the graph even without a cross-family edge; hashless (undecodable)
    * docs and single-member families with no edge stay out, exactly like
    * the doc-grain pair graph.
    */
  def imageNearDupGroups(
      hashes: DataFrame,
      maxHamming: Int): DataFrame = {
    val hs = Materialize.cache(hashes.filter(col("dhash_hi").isNotNull)
      .select(col("doc_id"), col("dhash_hi"), col("dhash_lo")))
    val fam = hs.groupBy(col("dhash_hi"), col("dhash_lo"))
      .agg(min(col("doc_id")).as("__gid"), count(lit(1)).as("__m"))
    val memb = hs.join(fam, Seq("dhash_hi", "dhash_lo"))
      .select(col("doc_id"), col("__gid"), col("__m"))
    val famHashes = fam.select(col("__gid").as("doc_id"), col("dhash_hi"), col("dhash_lo"))
    val fpairs = imageNearDupPairs(famHashes, maxHamming)
    memberGroups(memb, fpairs)(_.filter(col("label").isNotNull || col("__m") >= 2))
  }

  /** The member expansion both GROUPS operators end in: min-label
    * components over the family-grain pairs `fpairs`, left-joined onto the
    * members `memb` (doc_id, __gid = family id, family columns) as `label`;
    * `inGraph` keeps the members in the near-dup graph, and each kept doc
    * becomes (member_id, group_id, is_canonical).
    */
  private def memberGroups(memb: DataFrame, fpairs: DataFrame)(
      inGraph: DataFrame => DataFrame): DataFrame = {
    val labels = ConnectedComponents.minLabel(fpairs, "a_id", "b_id")
    val group = coalesce(col("label"), col("__gid"))
    inGraph(memb.join(labels.select(col("v").as("__gid"), col("label")), Seq("__gid"), "left"))
      .select(col("doc_id").as("member_id"), group.as("group_id"),
        (col("doc_id") === group).as("is_canonical"))
  }

  /** Banded-contour near-dup GROUPS — the audio/video sibling of
    * [[imageNearDupGroups]], over [[contourBands]] bands and
    * [[contourLevels]] contours of either modality. The pair relation
    * of [[contourNearDupPairs]] is a pure function of the two docs' level
    * contours (band signatures derive from the contour), so docs with an
    * identical contour form a lossless FAMILY: candidates, verify, and the
    * min-label connected components all run at family grain (bounded by
    * distinct-content count) and members expand back at the end — LINEAR
    * output where the pair form is C(f,2)-quadratic per copy-family.
    *
    * A multi-member family is in the graph iff identical docs actually
    * pair, i.e. the family has at least `minBands` bands (a shorter clip
    * can never reach the candidate threshold, even against an exact copy);
    * single-member families need a cross-family edge, exactly like the
    * doc-grain graph. Output: (member_id, group_id, is_canonical).
    */
  def contourNearDupGroups(
      fps: DataFrame,
      levels: DataFrame,
      minBands: Int,
      maxLevelDiff: Long): DataFrame = {
    require(minBands > 0 && maxLevelDiff >= 0,
      s"need positive thresholds: $minBands / $maxLevelDiff")
    val lv = Materialize.cache(levels)
    // family key: the full ordered contour, serialized to one string so the
    // group-by/join key is a flat binary comparison (collect_list order is
    // nondeterministic — sort by frame_idx before joining)
    val famOf = lv.groupBy(col("doc_id")).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("frame_idx"), col("level")))),
        x => concat_ws(":", x.getField("frame_idx").cast("string"),
          x.getField("level").cast("string"))), "|").as("__ck"))
    val fam = famOf.groupBy(col("__ck"))
      .agg(min(col("doc_id")).as("__gid"), count(lit(1)).as("__m"))
    val memb = famOf.join(fam, Seq("__ck"))
      .select(col("doc_id"), col("__gid"), col("__m"))
    val gids = fam.select(col("__gid").as("doc_id"))
    val ffps = Materialize.cache(fps.join(gids, Seq("doc_id"), "left_semi"))
    val flv = lv.join(gids, Seq("doc_id"), "left_semi")
    val fpairs = contourNearDupPairs(ffps, flv, minBands, maxLevelDiff)
    val nb = ffps.groupBy(col("doc_id")).agg(count(lit(1)).as("__nb"))
    memberGroups(memb, fpairs)(
      _.join(nb.select(col("doc_id").as("__gid"), col("__nb")), Seq("__gid"), "left")
        .filter(col("label").isNotNull ||
          (col("__m") >= 2 && coalesce(col("__nb"), lit(0L)) >= minBands)))
  }

  /** Schema of a decoded-video feature row (see `decodeY4mFeatures`). */
  val videoFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_frames", IntegerType, nullable = true),
    StructField("mean_y", DoubleType, nullable = true),
    StructField("first_mean_y", DoubleType, nullable = true),
    StructField("last_mean_y", DoubleType, nullable = true)))

  /** Schema of a decoded per-frame row (see `frameSampleY4m`). */
  val frameFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("mean_y", DoubleType, nullable = false)))

  /** A REAL video decoder for Y4M (YUV4MPEG2) — the one video container
    * parseable with zero libraries (plain-text header + FRAME markers +
    * raw planar YUV payloads; mjpegtools/ffmpeg's interchange format).
    * Parses the stream header (W/H/C tags; F/I/A/X ignored), walks FRAME
    * markers (optional per-frame parameters tolerated per spec), validates
    * every frame's full payload length, and sums each frame's luma plane.
    * Chroma planes are size-validated and skipped (luma carries the
    * features). Supported colorspaces: C420* (any suffix — subsampling
    * geometry is identical), C422, C444, Cmono; default 420 per spec.
    *
    * Hostile-input guards mirror decodeWav and `readImage`: dimension caps
    * BEFORE any allocation (the raster is never materialized at all —
    * sums stream over the payload), Long comparisons against declared
    * sizes, None on any truncated/malformed structure.
    *
    * @return (width, height, per-frame luma SUMS) — integer sums, so
    *         callers divide ONCE and the doubles replay bit-exactly
    */
  private[graft] def decodeY4m(bytes: Array[Byte]): Option[(Int, Int, Array[Long])] = {
    val magic = "YUV4MPEG2"
    if (bytes.length < magic.length + 1) return None
    var i = 0
    while (i < magic.length) {
      if (bytes(i) != magic.charAt(i).toByte) return None
      i += 1
    }
    var eol = i
    while (eol < bytes.length && bytes(eol) != 0x0a) eol += 1
    if (eol >= bytes.length) return None
    val header = new String(bytes, 0, eol, "US-ASCII")
    var w = -1; var h = -1; var cs = "420jpeg" // spec default when C absent
    val toks = header.split(' ')
    var ti = 1
    while (ti < toks.length) {
      val tok = toks(ti)
      if (tok.nonEmpty) tok.charAt(0) match {
        // non-numeric W/H → -1 → rejected by the dimension guard below
        case 'W' => w = tok.drop(1).toIntOption.getOrElse(-1)
        case 'H' => h = tok.drop(1).toIntOption.getOrElse(-1)
        case 'C' => cs = tok.drop(1)
        case _ => // F (rate), I (interlace), A (aspect), X (extension)
      }
      ti += 1
    }
    if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20) ||
      w.toLong * h > (1L << 26)) return None // 64 MiB luma cap, pre-walk
    val ySize = w * h
    val cSize =
      if (cs.startsWith("420")) {
        if (w % 2 != 0 || h % 2 != 0) return None
        (w / 2) * (h / 2)
      } else if (cs.startsWith("422")) {
        if (w % 2 != 0) return None
        (w / 2) * h
      } else if (cs.startsWith("444")) ySize
      else if (cs == "mono") 0
      else return None
    val frameBytes = ySize.toLong + 2L * cSize
    val sums = scala.collection.mutable.ArrayBuffer.empty[Long]
    val fm = "FRAME"
    var pos = eol + 1
    while (pos < bytes.length) {
      if (pos + fm.length > bytes.length) return None
      var j = 0
      while (j < fm.length) {
        if (bytes(pos + j) != fm.charAt(j).toByte) return None
        j += 1
      }
      var fe = pos + fm.length
      while (fe < bytes.length && bytes(fe) != 0x0a) fe += 1
      if (fe >= bytes.length) return None
      val dataOff = fe + 1
      if (dataOff.toLong + frameBytes > bytes.length) return None // truncated
      var sum = 0L
      var p = 0
      while (p < ySize) { sum += bytes(dataOff + p) & 0xff; p += 1 }
      sums += sum
      pos = dataOff + frameBytes.toInt
    }
    if (sums.isEmpty) return None
    Some((w, h, sums.toArray))
  }

  /** Deterministic Y4M fixture: a real multi-frame 4:2:0 stream per id
    * (width 4+2*(id%4), height 2+2*(id%3) — even, as 4:2:0 requires;
    * 2+id%4 frames; luma byte p of frame f = (id*3 + 7f + 5p) % 256).
    * Chroma planes are filled deterministically and exercised by the
    * decoder's skip arithmetic — a frame-stride bug lands mid-plane and
    * fails the FRAME-marker check rather than silently shifting sums.
    */
  def y4mFixture(ids: DataFrame, idCol: String): DataFrame =
    fixture(ids, idCol)(id => y4mStream(id)((f, p) => ((id * 3 + 7 * f + 5 * p) % 256).toInt))

  /** A 4:2:0 Y4M stream keyed by `key` (width 4+2*(key%4), height
    * 2+2*(key%3), 2+key%4 frames; chroma byte c of frame f =
    * (key + 11f + 13c) % 256) whose luma byte p of frame f is `luma(f, p)`
    * — the writer both Y4M fixtures share.
    */
  private def y4mStream(key: Long)(luma: (Int, Int) => Int): Array[Byte] = {
    val w = (4 + 2 * (key % 4)).toInt
    val h = (2 + 2 * (key % 3)).toInt
    val nf = (2 + key % 4).toInt
    val ySize = w * h
    val cSize = (w / 2) * (h / 2)
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n".getBytes("US-ASCII"))
    var f = 0
    while (f < nf) {
      out.write("FRAME\n".getBytes("US-ASCII"))
      var p = 0
      while (p < ySize) {
        out.write(luma(f, p))
        p += 1
      }
      var c = 0
      while (c < 2 * cSize) {
        out.write(((key + 11 * f + 13 * c) % 256).toInt)
        c += 1
      }
      f += 1
    }
    out.toByteArray
  }

  /** Batched per-partition Y4M decode — container-level features per
    * stream. `first_mean_y`/`last_mean_y` are position-sensitive: a
    * frame-walk bug (wrong stride, dropped FRAME) cannot hide behind the
    * order-independent overall mean. Every mean is ONE division of an
    * exact integer sum, so the doubles replay.
    */
  def decodeY4mFeatures(media: DataFrame): DataFrame =
    perDocRow(media, videoFeatureSchema)(decodeY4m(_).map { case (w, h, sums) =>
      val ySize = w.toLong * h
      var total = 0L
      sums.foreach(total += _)
      Seq[Any](w, h, sums.length,
        total.toDouble / (ySize * sums.length),
        sums.head.toDouble / ySize,
        sums.last.toDouble / ySize)
    })

  /** REAL frame sampling over Y4M payloads — every `stride`-th decoded
    * frame emits (doc_id, frame_idx, mean luma). The generator shape of
    * [[frameSample]] with an actual decoder inside: map-only flatMap, no
    * shuffle, row multiplication happens at the sampled-frame grain. The
    * container-probe [[frameSample]] stays for opaque binaries; this is
    * the decode path for streams the engine can actually parse.
    */
  def frameSampleY4m(media: DataFrame, stride: Int): DataFrame = {
    require(stride > 0, s"need positive stride: $stride")
    perDoc(media, frameFeatureSchema) { (id, bytes) =>
      decodeY4m(bytes) match {
        case Some((w, h, sums)) =>
          val ySize = w.toLong * h
          Iterator.range(0, sums.length, stride)
            .map(f => Row(id, f, sums(f).toDouble / ySize))
        case None => Iterator.empty
      }
    }
  }

  /** The video contour: each Y4M frame's mean luma quantized by the exact
    * Long division chain `(lumaSum / ySize) / qStep`, so the levels replay
    * bit-for-bit in any engine. None for undecodable payloads.
    */
  private[graft] def y4mLumaLevels(qStep: Long): Contour = {
    require(qStep > 0, s"need positive qStep: $qStep")
    bytes => decodeY4m(bytes).map { case (w, h, sums) =>
      val ySize = w.toLong * h
      sums.map(s => (s / ySize) / qStep)
    }
  }

  /** [[y4mFixture]] with PLANTED near-duplicates: geometry and luma keyed
    * on `id % 250` (so id and id+250 are twin clips), perturbed by a
    * global +`(id/250)%3` luma shift. Luma bytes are `base % 253 + pert`
    * — the modulus leaves headroom so the shift never wraps, which keeps
    * every frame's luma sum EXACTLY `baseSum + pert*ySize` (the property
    * the near-dup oracle replays).
    */
  def y4mDupFixture(ids: DataFrame, idCol: String): DataFrame =
    fixture(ids, idCol) { id =>
      val b = id % 250
      val pert = ((id / 250) % 3).toInt
      y4mStream(b)((f, p) => ((b * 3 + 7 * f + 5 * p) % 253).toInt + pert)
    }

  /** Batched per-partition feature extraction over (doc_id, media_type,
    * content) rows. The md5 checksum is computed Spark-side (codegen) before
    * the partition stage; byte-dependent features inside it.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val withMeta = media.select(
      col("doc_id"), col("media_type"),
      col("content"),
      md5(col("content")).as("checksum"))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(featureSchema)
    withMeta.mapPartitions { rows =>
      // one decoder init per partition would go here (model load, etc.)
      rows.map { r =>
        val content = r.getAs[Array[Byte]]("content")
        Row(
          r.getAs[Long]("doc_id"),
          r.getAs[String]("media_type"),
          content.length.toLong,
          r.getAs[String]("checksum"),
          decodeStub(content).orNull)
      }
    }(enc)
  }
}
