package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.encoders.RowEncoder

/** Multimodal column handling: images/audio/video travel as opaque
  * `binary` columns plus typed metadata structs.
  *
  * The container layer is REAL: [[ImageCodec.probe]] parses actual public
  * image container headers with hand-rolled byte walkers (PPM/BMP/PNG/
  * JPEG/GIF — metadata never needs a codec), and [[ImageCodec.features]]
  * produces a fixed-dim vector two ways: PPM (and unknown containers)
  * mean-pool the raw raster bytes — deterministic arithmetic a SQL
  * oracle can replay — while COMPRESSED containers (PNG/JPEG/GIF/BMP)
  * decode through the JDK's `javax.imageio.ImageIO` to real pixels and
  * area-pool the luma plane, so perceptual hashes survive re-encoding
  * (the same raster saved as PNG and as JPEG lands on the same grid).
  * A payload that wears a compressed header but does not decode (crawl
  * garbage, or the expression-synthesized [[withPngPayload]] fixtures)
  * falls back to byte pooling rather than failing the pipeline.
  * [[withImagePayload]] synthesizes valid P6 payloads from a text
  * column, with header dimensions derived from SQL-expressible facts so
  * the DuckDB oracle can verify the parse end-to-end;
  * [[withEncodedImagePayload]] encodes a REAL deterministic raster as
  * PNG or JPEG via ImageIO for the re-encode dedup fixtures.
  *
  * Scale design: decode work is embarrassingly parallel per row but
  * memory-heavy per item, so [[decodeImages]]/[[probeImages]] go through
  * `mapPartitions` (one decoder instance per partition, streaming
  * iterator — the Scala analog of `mapInPandas` batches) and callers
  * control parallelism by `repartition(n)` on the binary column's table,
  * NOT by collecting.
  */
object Multimodal {

  /** metadata struct carried next to every image payload */
  val imageMetaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /** Container codec: byte-walk header parsers for metadata (probe never
    * allocates a raster) + a two-path feature kernel — raw-byte pooling
    * for PPM/unknown, real `javax.imageio` pixel decode for compressed
    * containers. The Spark plumbing (schemas, partitioning, batch shape)
    * is format-agnostic. */
  object ImageCodec {

    // one-time JVM hygiene for executor-side ImageIO use: no AWT display
    // is ever needed for BufferedImage work, and the disk-backed stream
    // cache would put scratch files on every executor for no benefit
    System.setProperty("java.awt.headless", "true")
    javax.imageio.ImageIO.setUseCache(false)

    /** containers [[features]] routes through the real pixel decoder */
    private val imageIoFormats = Set("png", "jpeg", "gif", "bmp")

    /** Decode-size ceiling (pixels). A crawl payload can DECLARE any
      * raster size in a 16-byte header; ImageIO allocates the whole
      * raster before this kernel sees a pixel, so one poison 60k×60k
      * PNG header would OOM an executor. Headers above the ceiling
      * skip the decode and take the bounded byte-pooling path — the
      * same defensive posture as the truncated-raster rule. 64M pixels
      * ≈ 256 MB ARGB, well inside an executor task's budget. */
    private[graft] val MaxDecodePixels: Long = 64L << 20

    /** Real pixel decode → g×g area-mean luma grid in [0,1], row-major.
      * Each output cell is the mean luma of its pixel rectangle (the
      * g-bucket split of rows × columns), so the grid is stable under
      * re-encoding: PNG (lossless) reproduces it exactly and a
      * high-quality JPEG of the same raster lands within quantization
      * noise — the property [[imageNearDup]]'s dHash needs. Returns
      * None when the payload does not decode (truncated/garbage crawl
      * bytes, headerless fixtures) — callers fall back to byte pooling
      * rather than failing the partition. */
    private[operators] def lumaGridIO(bytes: Array[Byte],
                                      g: Int): Option[Array[Float]] = {
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) return None
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            // bound the DECODER's declared dims, not the byte-walk
            // probe's: a GIF sizes its raster from the per-frame image
            // descriptor, which a crafted payload can inflate past the
            // 1×1 logical screen the header probe reads — the decoder's
            // header view is the one that sizes the allocation
            val w = reader.getWidth(0)
            val h = reader.getHeight(0)
            if (w <= 0 || h <= 0 || w.toLong * h > MaxDecodePixels)
              return None
            decodeGrid(reader.read(0), w, h, g)
          } finally reader.dispose()
        } finally iis.close()
      } catch {
        case scala.util.control.NonFatal(_) => None // OOM et al. propagate
      }
    }

    private def decodeGrid(img: java.awt.image.BufferedImage, w: Int,
                           h: Int, g: Int): Option[Array[Float]] = {
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
      else {
          val acc = new Array[Double](g * g)
          val cnt = new Array[Long](g * g)
          val rowBuf = new Array[Int](w)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, rowBuf, 0, w)
            val gy = (y.toLong * g / h).toInt
            var x = 0
            while (x < w) {
              val gx = (x.toLong * g / w).toInt
              val rgb = rowBuf(x)
              val lum = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) +
                (rgb & 0xFF)) / 3.0
              val i = gy * g + gx
              acc(i) += lum
              cnt(i) += 1
              x += 1
            }
            y += 1
          }
          val out = new Array[Float](g * g)
          var i = 0
          while (i < g * g) {
            if (cnt(i) > 0) out(i) = (acc(i) / cnt(i) / 255.0).toFloat
            i += 1
          }
          Some(out)
      }
    }

    /** (width, height, channels, format, rasterOffset) or None. */
    private[operators] def parse(b: Array[Byte]): Option[(Int, Int, Int, String, Int)] = {
      if (b == null || b.length < 2) None
      else if (b(0) == 'P'.toByte && b(1) == '6'.toByte) parsePpm(b)
      else if (b(0) == 'B'.toByte && b(1) == 'M'.toByte) parseBmp(b)
      else if ((b(0) & 0xFF) == 0x89 && b(1) == 'P'.toByte) parsePng(b)
      else if ((b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) parseJpeg(b)
      else if (b(0) == 'G'.toByte && b(1) == 'I'.toByte) parseGif(b)
      else None
    }

    // GIF: "GIF87a"/"GIF89a" signature, then the Logical Screen
    // Descriptor — width LE16 at 6, height LE16 at 8, packed flags at
    // 10 (bit 7: global color table present, bits 0-2: its size as
    // 2^(n+1) entries of 3 bytes). Image data (or extensions) start
    // after the descriptor (13) plus the global color table if present.
    private def parseGif(b: Array[Byte]): Option[(Int, Int, Int, String, Int)] = {
      if (b.length < 13) return None
      val sig = new String(b, 0, 6, "US-ASCII")
      if (sig != "GIF87a" && sig != "GIF89a") return None
      def le16(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
      val w = le16(6)
      val h = le16(8)
      val packed = b(10) & 0xFF
      val gctBytes =
        if ((packed & 0x80) != 0) 3 * (1 << ((packed & 0x07) + 1)) else 0
      if (w <= 0 || h <= 0) None
      else Some((w, h, 3, "gif", 13 + gctBytes)) // palette-indexed RGB
    }

    // PNG: fixed 8-byte signature, then chunks — the FIRST must be IHDR
    // (spec-mandated): length(BE32)=13 at 8, "IHDR" at 12, width BE32 at
    // 16, height BE32 at 20, bit depth at 24, color type at 25. Channel
    // count derives from the color type; pixel data (IDAT et al.) starts
    // after IHDR's 4-byte CRC at offset 33.
    private val pngSig =
      Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

    private def parsePng(b: Array[Byte]): Option[(Int, Int, Int, String, Int)] = {
      if (b.length < 33) return None
      var i = 0
      while (i < 8) { if (b(i) != pngSig(i)) return None; i += 1 }
      def be32(o: Int): Int = ((b(o) & 0xFF) << 24) | ((b(o + 1) & 0xFF) << 16) |
        ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)
      if (b(12) != 'I'.toByte || b(13) != 'H'.toByte ||
        b(14) != 'D'.toByte || b(15) != 'R'.toByte) return None
      val w = be32(16)
      val h = be32(20)
      val channels = (b(25) & 0xFF) match {
        case 0 => 1 // grayscale
        case 2 => 3 // truecolor
        case 3 => 1 // palette index
        case 4 => 2 // gray + alpha
        case 6 => 4 // truecolor + alpha
        case _ => 0
      }
      if (w <= 0 || h <= 0 || channels == 0) None
      else Some((w, h, channels, "png", 33))
    }

    // JPEG: FF D8, then marker segments `FF mm [len(BE16, incl itself)
    // payload]`; standalone markers (01, D0–D9) carry no length, FF is a
    // fill byte. SOFn frame headers (C0–CF minus C4/C8/CC) carry
    // precision(1) height(BE16) width(BE16) nComponents(1); entropy-coded
    // data starts after the SOS (DA) header. Long cursor: a near-2^31
    // offset plus a u16 length must not wrap an Int advance.
    private def parseJpeg(b: Array[Byte]): Option[(Int, Int, Int, String, Int)] = {
      def be16(o: Int): Int = ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)
      var i = 2L
      var w, h, ch = -1
      var dataOff = -1
      var done = false
      while (!done && i + 2 <= b.length) {
        if ((b(i.toInt) & 0xFF) != 0xFF) {
          // lost marker sync: reject unless a frame header was already
          // seen (truncated/garbage tails are normal in crawled data)
          if (w <= 0) return None
          dataOff = i.toInt
          done = true
        } else {
          val m = b(i.toInt + 1) & 0xFF
          if (m == 0xFF) i += 1 // fill byte
          else if (m == 0x01 || (m >= 0xD0 && m <= 0xD9)) i += 2 // standalone
          else if (i + 4 > b.length) done = true // truncated segment header
          else {
            val len = be16(i.toInt + 2)
            if (len < 2) return None
            val isSof = m >= 0xC0 && m <= 0xCF &&
              m != 0xC4 && m != 0xC8 && m != 0xCC
            if (isSof && i + 4 + 6 <= b.length && len >= 8) {
              h = be16(i.toInt + 5)
              w = be16(i.toInt + 7)
              ch = b(i.toInt + 9) & 0xFF
            }
            if (m == 0xDA) { // SOS: entropy-coded data follows its header
              dataOff = math.min(i + 2 + len, b.length.toLong).toInt
              done = true
            }
            i += 2L + len
          }
        }
      }
      if (w <= 0 || h <= 0 || ch <= 0) None
      else Some((w, h, ch, "jpeg",
        if (dataOff >= 0) dataOff else math.min(i, b.length.toLong).toInt))
    }

    // Binary PPM: "P6" <ws> width <ws> height <ws> maxval <one ws> raster,
    // '#' starts a comment through end-of-line.
    private def parsePpm(b: Array[Byte]): Option[(Int, Int, Int, String, Int)] = {
      var i = 2
      def skipWs(): Unit = {
        var done = false
        while (!done && i < b.length) {
          val c = b(i)
          if (c == '#'.toByte) { while (i < b.length && b(i) != '\n'.toByte) i += 1 }
          else if (c == ' '.toByte || c == '\n'.toByte || c == '\t'.toByte ||
            c == '\r'.toByte || c == 11 || c == 12) i += 1
          else done = true
        }
      }
      def int(): Int = {
        skipWs()
        var v = 0; var any = false
        while (i < b.length && b(i) >= '0'.toByte && b(i) <= '9'.toByte) {
          v = v * 10 + (b(i) - '0'.toByte); i += 1; any = true
        }
        if (any) v else -1
      }
      val w = int(); val h = int(); val maxval = int()
      if (w <= 0 || h <= 0 || maxval <= 0) None
      else Some((w, h, 3, "ppm", i + 1)) // one whitespace byte, then raster
    }

    // BMP: little-endian i32 width at 18, i32 height at 22 (negative =
    // top-down), u16 bits-per-pixel at 28, u32 raster offset at 10.
    private def parseBmp(b: Array[Byte]): Option[(Int, Int, Int, String, Int)] = {
      if (b.length < 30) return None
      def le32(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
        ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)
      val w = le32(18)
      val h = math.abs(le32(22))
      val bpp = (b(28) & 0xFF) | ((b(29) & 0xFF) << 8)
      if (w <= 0 || h <= 0) None
      else Some((w, h, math.max(bpp / 8, 1), "bmp", le32(10)))
    }

    /** Header probe: (width, height, channels, format). Unknown containers
      * probe as (0, 0, 0, "unknown") rather than failing the pipeline —
      * crawled corpora always contain garbage payloads. */
    def probe(bytes: Array[Byte]): (Int, Int, Int, String) =
      parse(bytes) match {
        case Some((w, h, c, f, _)) => (w, h, c, f)
        case None => (0, 0, 0, "unknown")
      }

    /** Decode kernel, two paths. COMPRESSED containers (PNG/JPEG/GIF/
      * BMP) with a perfect-square `dim` decode through ImageIO to real
      * pixels and area-pool the luma plane into a √dim × √dim row-major
      * grid — re-encodings of the same raster land on (nearly) the same
      * vector, which is what perceptual dedup needs. Everything else —
      * PPM (the oracle-exact fixture format), unknown containers,
      * non-square dims, headers declaring rasters above
      * [[MaxDecodePixels]], and compressed headers whose body does NOT
      * decode (crawl garbage) — mean-pools the raw payload bytes after
      * the header into `dim` contiguous buckets, normalized to [0,1]:
      * deterministic byte arithmetic a SQL oracle can replay. Truncated
      * rasters pool what exists — the defensive posture for crawled
      * data. */
    def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      val parsed = parse(bytes)
      val g = math.sqrt(dim.toDouble).toInt
      val viaIo =
        if (g * g == dim && parsed.exists(p => imageIoFormats(p._4) &&
            p._1.toLong * p._2 <= MaxDecodePixels))
          lumaGridIO(bytes, g)
        else None
      viaIo.getOrElse(poolBytes(bytes, parsed.map(_._5).getOrElse(0), dim))
    }
  }

  /** Shared payload-pooling kernel: mean of unsigned bytes per bucket,
    * normalized to [0,1]. */
  private[graft] def poolBytes(bytes: Array[Byte], off: Int,
                               dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    if (bytes == null) return out
    val n = math.max(bytes.length - off, 0)
    if (n == 0) return out
    var j = 0
    while (j < dim) {
      val lo = off + (j.toLong * n / dim).toInt
      val hi = off + ((j + 1).toLong * n / dim).toInt
      if (hi > lo) {
        var acc = 0L
        var i = lo
        while (i < hi) { acc += bytes(i) & 0xFF; i += 1 }
        out(j) = (acc.toDouble / (hi - lo) / 255.0).toFloat
      }
      j += 1
    }
    out
  }

  /** Wrap a text/id table into a multimodal frame: a VALID binary-PPM
    * payload (real `P6` header + the text's UTF-8 bytes as a truncated
    * raster) plus the encoding-side metadata struct. Header dimensions
    * derive from the text length only — SQL-expressible on purpose, so an
    * external oracle can recompute what [[probeImages]] must parse back
    * out of the bytes. */
  def withImagePayload(df: DataFrame, srcCol: String,
                       contentCol: String = "content"): DataFrame = {
    val len = length(col(srcCol))
    val w = (lit(64) + pmod(len * 7, lit(1921))).cast("int")
    val h = (lit(64) + pmod(len * 13, lit(1081))).cast("int")
    df.withColumn(contentCol,
        concat(lit("P6\n"), w.cast("string"), lit(" "), h.cast("string"),
          lit("\n255\n"), col(srcCol)).cast(BinaryType))
      .withColumn("meta", struct(
        w.as("width"), h.as("height"),
        lit(3).as("channels"), lit("ppm").as("format")))
  }

  /** Wrap a text/id table into a PNG-framed multimodal frame: a real PNG
    * signature + IHDR chunk (big-endian dimensions, 8-bit truecolor →
    * 3 channels) assembled byte-for-byte with expressions, the text's
    * UTF-8 bytes standing in for the compressed stream. Header dimensions
    * derive from the text length only — SQL-expressible on purpose, so an
    * external oracle can recompute what [[probeImages]] must parse back
    * out of the bytes ([[ImageCodec.parsePng]] ignores the CRC, as any
    * header probe does). */
  def withPngPayload(df: DataFrame, srcCol: String,
                     contentCol: String = "content"): DataFrame = {
    val len = length(col(srcCol))
    val w = (lit(16) + pmod(len * 5, lit(1009))).cast("int")
    val h = (lit(16) + pmod(len * 11, lit(737))).cast("int")
    def be32Hex(c: Column): Column = lpad(hex(c), 8, "0")
    val header = concat(
      lit("89504E470D0A1A0A"), // signature
      lit("0000000D"), lit("49484452"), // IHDR length + type
      be32Hex(w), be32Hex(h),
      lit("08"), lit("02"), // bit depth 8, color type 2 (truecolor)
      lit("000000"), // compression, filter, interlace
      lit("00000000")) // CRC placeholder (probes don't checksum)
    df.withColumn(contentCol,
        concat(unhex(header), col(srcCol).cast(BinaryType)))
      .withColumn("meta", struct(
        w.as("width"), h.as("height"),
        lit(3).as("channels"), lit("png").as("format")))
  }

  /** Deterministic cell-level pattern for the encoded-raster fixtures:
    * cell (r, c) of a `cells`×`cells` grid carries one of 16 gray levels
    * drawn from md5(src|r|c), bumped to always differ from its LEFT
    * neighbor — the exact property dHash inspects — so a high-quality
    * JPEG's quantization noise (≲2/255 on block-aligned constant cells)
    * can never flip a comparison whose margin is 16/255. Pure function
    * of the source string: the oracle reasons about src equality, never
    * about codec bytes. */
  private[graft] def cellLevels(src: String, cells: Int): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Int](cells * cells)
    var r = 0
    while (r < cells) {
      var c = 0
      while (c < cells) {
        val d = md.digest(s"$src|$r|$c".getBytes("UTF-8"))
        var lvl = d(0) & 0x0F
        if (c > 0 && lvl == out(r * cells + c - 1)) lvl = (lvl + 1) % 16
        out(r * cells + c) = lvl
        c += 1
      }
      r += 1
    }
    out
  }

  /** Wrap a text/id table into a multimodal frame holding a REAL encoded
    * image: a deterministic `cells`×`cells` block raster derived from the
    * source text ([[cellLevels]]), rendered at `cellPx` pixels per cell
    * and encoded through `javax.imageio` as `"png"` (lossless) or
    * `"jpeg"` (quality 0.95). The same text always yields the same
    * raster, so a PNG and a JPEG of equal texts are re-encodings of ONE
    * image — the planted ground truth for [[imageNearDup]]'s perceptual
    * small-ball. Grayscale on purpose: no chroma subsampling seam.
    * `cellPx = 8` aligns cells to JPEG's 8×8 DCT blocks, keeping the
    * lossy error to DC quantization only.
    *
    * Scale shape: one `mapPartitions` encode kernel (one codec instance
    * per partition, rows stream through an iterator) — identical
    * plumbing to [[decodeImages]]; callers control parallelism with
    * `repartition`/`minPartitions`, never by collecting. */
  def withEncodedImagePayload(df0: DataFrame, srcCol: String,
                              format: String, cells: Int = 8,
                              cellPx: Int = 8,
                              contentCol: String = "content",
                              minPartitions: Option[Int] = None): DataFrame = {
    require(format == "png" || format == "jpeg",
      s"format must be png or jpeg, got $format")
    require(cells >= 2 && cellPx >= 1, s"bad raster shape $cells/$cellPx")
    require(!df0.columns.contains(contentCol),
      s"input already has a '$contentCol' column")
    val df = ensureParallelism(df0, minPartitions)
    val inSchema = df.schema
    val outSchema = inSchema.add(StructField(contentCol, BinaryType,
      nullable = true))
    val idx = inSchema.fieldIndex(srcCol)
    val enc = RowEncoder.encoderFor(outSchema)
    val (fmt, nCells, px) = (format, cells, cellPx) // no closure over df
    df.mapPartitions { rows =>
      rows.map { r =>
        val src = r.get(idx)
        val payload: Array[Byte] = if (src == null) null else {
          val side = nCells * px
          // sRGB truecolor with r=g=b, NOT TYPE_BYTE_GRAY: gray rasters
          // live in a LINEAR color space, so getRGB on the decode side
          // would gamma-map the planted levels (monotonic, but no longer
          // the generator's arithmetic). Equal channels survive JPEG's
          // YCbCr round-trip exactly (Y = v, chroma constant)
          val img = new java.awt.image.BufferedImage(side, side,
            java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          val levels = cellLevels(src.toString, nCells)
          var y = 0
          while (y < side) {
            var x = 0
            while (x < side) {
              // level 0..15 → centered gray 8, 24, …, 248
              val v = levels((y / px) * nCells + (x / px)) * 16 + 8
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          if (fmt == "png") {
            javax.imageio.ImageIO.write(img, "png", bos)
          } else {
            val writer =
              javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
            val params = writer.getDefaultWriteParam
            params.setCompressionMode(
              javax.imageio.ImageWriteParam.MODE_EXPLICIT)
            params.setCompressionQuality(0.95f)
            val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
            try {
              writer.setOutput(ios)
              writer.write(null,
                new javax.imageio.IIOImage(img, null, null), params)
            } finally {
              ios.close()
              writer.dispose()
            }
          }
          bos.toByteArray
        }
        Row.fromSeq(r.toSeq :+ payload)
      }
    }(enc)
  }

  /** Parallelism floor for the decode/probe stages: multimodal payload
    * tables often arrive from a handful of fat parquet files (few input
    * splits), while the per-row byte work is CPU-bound — a `minPartitions`
    * floor repartitions UP so every core decodes, without touching
    * already-well-partitioned inputs. */
  private def ensureParallelism(df: DataFrame,
                                minPartitions: Option[Int]): DataFrame =
    minPartitions match {
      case Some(n) =>
        require(n > 0, s"minPartitions must be > 0, got $n")
        if (df.rdd.getNumPartitions < n) df.repartition(n) else df
      case None => df
    }

  /** The plumbing of every per-row byte kernel: append a nullable
    * `outCol` of type `outType` holding `codec(payload)` — NULL for a
    * NULL payload (and wherever `codec` returns null) — to every row of
    * `df0`, after the [[ensureParallelism]] floor. One kernel instance
    * per partition; rows flow through an iterator (never materialized
    * as a whole partition). */
  private def byteKernel(df0: DataFrame, contentCol: String, outCol: String,
                         outType: DataType, minPartitions: Option[Int])
                        (codec: Array[Byte] => Any): DataFrame = {
    val df = ensureParallelism(df0, minPartitions)
    val idx = df.schema.fieldIndex(contentCol)
    val enc = RowEncoder.encoderFor(
      df.schema.add(StructField(outCol, outType, nullable = true)))
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        Row.fromSeq(r.toSeq :+ (if (bytes == null) null else codec(bytes)))
      }
    }(enc)
  }

  /** Per-partition streaming header probe → metadata struct column parsed
    * from the payload BYTES (not trusted from upstream metadata). */
  def probeImages(df0: DataFrame, contentCol: String,
                  outCol: String = "probed_meta",
                  minPartitions: Option[Int] = None): DataFrame =
    byteKernel(df0, contentCol, outCol, imageMetaSchema, minPartitions) { bytes =>
      val (w, h, c, f) = ImageCodec.probe(bytes)
      Row(w, h, c, f)
    }

  /** Per-partition streaming decode → fixed-dim feature vector column. */
  def decodeImages(df0: DataFrame, contentCol: String, dim: Int = 16,
                   outCol: String = "features",
                   minPartitions: Option[Int] = None): DataFrame =
    byteKernel(df0, contentCol, outCol,
      ArrayType(FloatType, containsNull = false), minPartitions) { bytes =>
      ImageCodec.features(bytes, dim).toSeq
    }

  /** Perceptual difference-hash over a decoded dim×dim luma grid
    * ([[decodeImages]] output): bit (r, c) = 1 iff grid(r, c+1) >
    * grid(r, c) — the classic dHash, robust to uniform brightness/scale
    * shifts because only the SIGN of neighbor differences survives.
    * dim·(dim−1) bits packed into one long (dim = 8 → 56 bits). A static
    * chain of codegen'd comparisons — no UDF, no extra pass. */
  def imageDHash(features: Column, dim: Int = 8): Column = {
    require(dim >= 2 && dim * (dim - 1) <= 64,
      s"dHash needs 2 <= dim with dim*(dim-1) <= 64 bits, got dim=$dim")
    val bits = for { r <- 0 until dim; c <- 0 until dim - 1 } yield {
      val i = r * dim + c
      // element_at is 1-based
      when(element_at(features, i + 2) > element_at(features, i + 1),
        lit(1L << (r * (dim - 1) + c))).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** Perceptual image near-dup pairs: decode → pooled luma grid →
    * [[imageDHash]] → the SAME hamming-ball pigeonhole machinery as text
    * SimHash ([[Dedup.simhashNearDup]]'s factored core): four 16-bit
    * chunk-keyed candidate buckets (occupancy-capped), exact XOR popcount
    * verify. Ids must be long-castable. Output: (id_l, id_r, hamming).
    *
    * What the hash is perceptual OVER depends on the container
    * ([[ImageCodec.features]]'s two paths). Compressed formats
    * (PNG/JPEG/GIF/BMP) decode to real pixels, so re-encodings of the
    * same raster — a PNG and its high-quality JPEG — land at hamming 0
    * or within a small ball, and brightness/scale shifts survive (only
    * the SIGN of neighbor differences is kept). PPM and undecodable
    * payloads hash the raw payload bytes: byte-identical copies pair at
    * hamming 0 and noise-level BYTE edits land in small balls, but a
    * re-encode of the same raster into a different container is a
    * different byte stream — the byte path makes no cross-container
    * promise. */
  def imageNearDup(df: DataFrame, idCol: String, contentCol: String,
                   dim: Int = 8, maxHamming: Int = 0,
                   maxBucketSize: Option[Int] = Some(10000),
                   minPartitions: Option[Int] = None): DataFrame =
    Dedup.hammingNearDupFromSig(
      imageSignatures(df, idCol, contentCol, dim, minPartitions),
      maxHamming, maxBucketSize)

  /** decode → dim×dim luma grid → dHash, as a (__id, __sh) signature
    * table — the shared projection under [[imageNearDup]] and the
    * persisted-index build/probe (all consumers MUST signature
    * identically). Requests dim² buckets: compressed formats decode to
    * a TRUE row-major grid; the byte path's 1-D pooling is read
    * through the same row-major lens. Ids must be long-castable;
    * null-payload rows drop. */
  private def imageSignatures(df: DataFrame, idCol: String,
                              contentCol: String, dim: Int,
                              minPartitions: Option[Int]): DataFrame =
    decodeImages(df.select(col(idCol), col(contentCol)),
        contentCol, dim * dim, "__feats", minPartitions)
      .where(col("__feats").isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        imageDHash(col("__feats"), dim).as("__sh"))

  /** Build and PERSIST a perceptual image-dedup index: the corpus is
    * decoded and dHashed ONCE and the 8-byte signatures land in the
    * [[Dedup.buildHammingIndex]] layout — incremental crawl drops then
    * check each image batch against the whole corpus at its own decode
    * cost only ([[imageDupAgainstIndex]]), with append/delete through
    * [[Dedup.appendToHammingIndex]]/[[Dedup.deleteFromHammingIndex]]
    * composed with the same signature projection. The 100 TB shape:
    * payload bytes are read once at ingest and never retained — the
    * index is 4 band rows + 8 bytes per image. */
  def buildImageDupIndex(df: DataFrame, idCol: String, contentCol: String,
                         table: String, dim: Int = 8, buckets: Int = 32,
                         minPartitions: Option[Int] = None): Unit =
    Dedup.buildHammingIndex(
      imageSignatures(df, idCol, contentCol, dim, minPartitions),
      table, buckets)

  /** Probe a [[buildImageDupIndex]] index with a new image batch:
    * (corpus_id, batch_id, hamming ≤ maxHamming) — full recall for
    * hamming ≤ 3 (the pigeonhole bound). */
  def imageDupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                           table: String, batch: DataFrame, idCol: String,
                           contentCol: String, dim: Int = 8,
                           maxHamming: Int = 3,
                           minPartitions: Option[Int] = None): DataFrame =
    Dedup.hammingAgainstIndex(spark, table,
      imageSignatures(batch, idCol, contentCol, dim, minPartitions),
      maxHamming)

  /** Grow a [[buildImageDupIndex]] index with a new image batch (ids
    * must be new — the [[Dedup.appendToHammingIndex]] contract). */
  def appendToImageDupIndex(batch: DataFrame, idCol: String,
                            contentCol: String, table: String,
                            dim: Int = 8,
                            minPartitions: Option[Int] = None): Unit =
    Dedup.appendToHammingIndex(
      imageSignatures(batch, idCol, contentCol, dim, minPartitions), table)

  /** metadata struct carried next to every audio payload */
  val audioMetaSchema: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /** Audio container codec — the audio twin of [[ImageCodec]]: PCM WAV
    * (RIFF chunk walk) and MP3 (frame-header walk — version/layer/
    * bitrate/samplerate decode per frame, frames counted at their
    * computed stride) are both fully documented formats needing no
    * codec library, so the header parses are REAL byte work; the
    * METADATA (rate, channels, sample count → duration) comes out of
    * the container with no audio decode, which is all corpus
    * sampling/quality gates need. */
  object AudioCodec {

    /** MPEG1 Layer III bitrates (kbps) by header index (1–14; 0 = free,
      * 15 = invalid) and sample rates (Hz) by index (3 = reserved) —
      * the published MPEG-1 audio tables. */
    private val Mp3Bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112,
      128, 160, 192, 224, 256, 320)
    private val Mp3Rates = Array(44100, 48000, 32000)

    /** (sampleRate, channels, nSamples, firstFrameOffset) from an MPEG1
      * Layer III stream (the dominant crawl shape), or None. Skips a
      * leading ID3v2 tag (syncsafe size), then walks frame headers at
      * their computed stride — frameLen = 144·bitrate/rate + padding —
      * counting whole frames present (truncated tails stop the walk,
      * the [[parse]] posture). Sample count is frames × 1152 (MPEG1
      * Layer III samples/frame); rate/channels come from the FIRST
      * frame (VBR streams vary bitrate per frame — handled, since the
      * stride re-derives per frame — but never rate/mode). */
    private[operators] def parseMp3(b: Array[Byte]): Option[(Int, Int, Long, Int)] = {
      if (b == null || b.length < 4) return None
      // ID3v2: "ID3" ver(2) flags(1) size(4 syncsafe = 7 bits/byte)
      var i = 0L
      if (b.length >= 10 && b(0) == 'I'.toByte && b(1) == 'D'.toByte &&
          b(2) == '3'.toByte) {
        val sz = ((b(6) & 0x7F).toLong << 21) | ((b(7) & 0x7F) << 14) |
          ((b(8) & 0x7F) << 7) | (b(9) & 0x7F)
        i = 10L + sz // a poison syncsafe size can only reach 2^28
      }
      var rate, ch = -1
      var frames = 0L
      var firstOff = -1
      var ok = true
      while (ok && i + 4 <= b.length) {
        val h1 = b(i.toInt + 1) & 0xFF
        // sync (11 set bits) + MPEG1 (version bits 11) + Layer III
        // (layer bits 01); anything else ends the walk (garbage tail)
        if ((b(i.toInt) & 0xFF) != 0xFF || (h1 & 0xFE) != 0xFA) ok = false
        else {
          val h2 = b(i.toInt + 2) & 0xFF
          val bIdx = (h2 >> 4) & 0xF
          val rIdx = (h2 >> 2) & 3
          val pad = (h2 >> 1) & 1
          if (bIdx == 0 || bIdx == 15 || rIdx == 3) ok = false
          else {
            val r = Mp3Rates(rIdx)
            val frameLen = 144000L * Mp3Bitrates(bIdx) / r + pad
            if (rate < 0) {
              rate = r
              ch = if (((b(i.toInt + 3) >> 6) & 3) == 3) 1 else 2
              firstOff = i.toInt
            }
            if (i + frameLen <= b.length) { frames += 1; i += frameLen }
            else ok = false // truncated trailing frame: not counted
          }
        }
      }
      if (frames <= 0) None
      else Some((rate, ch, frames * 1152L, firstOff))
    }
    /** (sampleRate, channels, bits, nSamples, dataOffset) from a PCM WAV
      * header, or None for anything else. Walks the chunk list (fmt /
      * data may come in any order, with vendor chunks between). */
    private[operators] def parse(b: Array[Byte]): Option[(Int, Int, Int, Long, Int)] = {
      def le32(o: Int): Int =
        (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
          ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)
      def le16(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
      def tag(o: Int): String = new String(b, o, 4, "US-ASCII")
      if (b == null || b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE")
        return None
      // Long cursor: a garbage u32 chunk size near 2^31 would overflow an
      // Int advance (8 + sz wraps negative → negative array index →
      // throw), violating the never-throw contract for crawled garbage
      var i = 12L
      var rate, ch, bits = -1
      var dataLen = -1L
      var dataOff = -1
      while (i + 8 <= b.length && (rate < 0 || dataLen < 0)) {
        val ii = i.toInt
        val id = tag(ii); val sz = le32(ii + 4).toLong & 0xFFFFFFFFL
        if (id == "fmt " && i + 24 <= b.length) {
          ch = le16(ii + 10); rate = le32(ii + 12); bits = le16(ii + 22)
        } else if (id == "data") {
          dataOff = ii + 8
          dataLen = math.min(sz,
            math.max(b.length - i - 8, 0L)) // truncated payloads pool what exists
        }
        i += 8L + sz + (sz & 1L) // word-aligned chunks
      }
      if (rate <= 0 || ch <= 0 || bits <= 0 || dataLen < 0) None
      else Some((rate, ch, bits,
        dataLen / math.max(ch * (bits / 8), 1), dataOff))
    }

    /** Header probe: WAV first (RIFF signature), then MP3 (frame sync);
      * unknown containers probe as zeros/"unknown" — crawled corpora
      * always contain garbage payloads. MP3 reports bits = 0: a lossy
      * codec has no PCM sample width, and 0 is the honest "not a PCM
      * container" sentinel (duration still derives as
      * n_samples / sample_rate). */
    def probe(bytes: Array[Byte]): (Int, Int, Int, Long, String) =
      parse(bytes) match {
        case Some((r, c, bt, n, _)) => (r, c, bt, n, "wav")
        case None => parseMp3(bytes) match {
          case Some((r, c, n, _)) => (r, c, 0, n, "mp3")
          case None => (0, 0, 0, 0L, "unknown")
        }
      }

    /** Audio feature kernel: mean-pool the coded data bytes into `dim`
      * contiguous buckets, normalized to [0,1] — the audio twin of
      * [[ImageCodec.features]] (truncated payloads pool what exists;
      * unknown containers pool the whole payload). */
    def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      val off = parse(bytes).map(_._5)
        .orElse(parseMp3(bytes).map(_._4)).getOrElse(0)
      poolBytes(bytes, off, dim)
    }

    /** ID3v2 text-tag extraction — (title, artist, album) from the
      * TIT2/TPE1/TALB frames of a leading ID3v2 tag: the metadata a
      * curation pipeline actually joins on (dedup by artist+title,
      * per-artist caps). Walks the frame list inside the tag's
      * syncsafe-bounded extent: v2.3 frames carry plain BE32 sizes,
      * v2.4 syncsafe sizes (version-dispatched); text payloads lead
      * with an encoding byte — ISO-8859-1 (0) and UTF-8 (3) are
      * decoded, UTF-16 (1/2) is decoded with its BOM via the JDK.
      * First occurrence of each frame wins; absent frames read None;
      * non-ID3 payloads read None overall. Never-throw, must-advance
      * (a zero/poison frame size ends the walk). */
    private[graft] def id3Tags(b: Array[Byte]): Option[(Option[String], Option[String], Option[String])] = {
      if (b == null || b.length < 10 || b(0) != 'I'.toByte ||
        b(1) != 'D'.toByte || b(2) != '3'.toByte) return None
      val ver = b(3) & 0xFF
      val tagEnd = math.min(
        10L + (((b(6) & 0x7F).toLong << 21) | ((b(7) & 0x7F) << 14) |
          ((b(8) & 0x7F) << 7) | (b(9) & 0x7F)),
        b.length.toLong)
      var title, artist, album: Option[String] = None
      def decodeText(from: Long, to: Long): Option[String] = {
        if (to <= from) return Some("")
        val enc = b(from.toInt) & 0xFF
        val len = (to - from - 1).toInt
        val cs = enc match {
          case 0 => "ISO-8859-1"
          case 1 | 2 => "UTF-16" // BOM-led (1) / BE (2): JDK handles both
          case 3 => "UTF-8"
          case _ => return None
        }
        // strip one trailing NUL terminator if present (common in tags)
        var l = len
        if (cs != "UTF-16" && l > 0 && b((from + l).toInt) == 0) l -= 1
        Some(new String(b, from.toInt + 1, l, cs))
      }
      var i = 10L
      var ok = true
      while (ok && i + 10 <= tagEnd) {
        val id = new String(b, i.toInt, 4, "US-ASCII")
        val sz =
          if (ver >= 4)
            ((b(i.toInt + 4) & 0x7F).toLong << 21) |
              ((b(i.toInt + 5) & 0x7F) << 14) |
              ((b(i.toInt + 6) & 0x7F) << 7) | (b(i.toInt + 7) & 0x7F)
          else
            ((b(i.toInt + 4) & 0xFFL) << 24) | ((b(i.toInt + 5) & 0xFF) << 16) |
              ((b(i.toInt + 6) & 0xFF) << 8) | (b(i.toInt + 7) & 0xFF)
        val body = i + 10
        if (sz <= 0 || body + sz > tagEnd) ok = false // padding/poison
        else {
          id match {
            case "TIT2" if title.isEmpty => title = decodeText(body, body + sz)
            case "TPE1" if artist.isEmpty => artist = decodeText(body, body + sz)
            case "TALB" if album.isEmpty => album = decodeText(body, body + sz)
            case _ => ()
          }
          i = body + sz
        }
      }
      Some((title, artist, album))
    }

    /** Windowed PCM energy profile — the silence/voice-activity gate:
      * the sample stream splits into fixed `window`-sample blocks
      * (complete blocks only; the ragged tail is excluded so the
      * window grid is content-independent) and each block's energy
      * Σ s² accumulates as an exact long. Returns (nWindows, nSilent
      * = blocks with energy < threshold, maxWindowEnergy) — silence
      * FRACTION (the curation signal: dead air, truncated uploads)
      * derives downstream as nSilent/nWindows. None for non-16-bit
      * payloads. */
    private[graft] def silenceStats(bytes: Array[Byte], window: Int,
                                    threshold: Long): Option[(Long, Long, Long)] =
      parse(bytes).collect { case (_, ch, 16, nsamp, off) =>
        val n = math.min(math.max((bytes.length - off) / 2, 0).toLong,
          nsamp * ch).toInt
        val nw = n / window
        var silent = 0L
        var maxE = 0L
        var wdx = 0
        while (wdx < nw) {
          var e = 0L
          var j = wdx * window
          val end = j + window
          while (j < end) {
            val s = ((bytes(off + 2 * j) & 0xFF) |
              (bytes(off + 2 * j + 1) << 8)).toShort.toInt
            e += s.toLong * s
            j += 1
          }
          if (e < threshold) silent += 1
          if (e > maxE) maxE = e
          wdx += 1
        }
        (nw.toLong, silent, maxE)
      }

    /** REAL signal statistics over a PCM WAV's sample data — the two
      * classic speech/music/noise discriminators (energy, zero-crossing
      * rate) plus peak, computed EXACTLY in integers so the result is
      * hash-stable and an external oracle can replay it from the bytes:
      * (nSamples, sumSq = Σ s², zeroCrossings, peak = max |s|) over the
      * signed 16-bit little-endian sample stream (all channels
      * interleaved; a sample of 0 counts as positive for the crossing
      * rule, so the count is well-defined on silence). RMS/ZCR derive
      * downstream as √(sumSq/n) and zc/n — kept OUT of the kernel so no
      * float ever leaves it. None for non-PCM/non-16-bit payloads;
      * truncated rasters measure the complete samples present. */
    private[graft] def pcmStats(bytes: Array[Byte]): Option[(Long, Long, Long, Int)] =
      parse(bytes).collect { case (_, ch, 16, nsamp, off) =>
        // bound by the data CHUNK's extent (vendor chunks may trail it),
        // and by the bytes actually present (truncated payloads)
        val n = math.min(math.max((bytes.length - off) / 2, 0).toLong,
          nsamp * ch).toInt
        var sumSq = 0L
        var zc = 0L
        var peak = 0
        var prevNeg = false
        var j = 0
        while (j < n) {
          val s = ((bytes(off + 2 * j) & 0xFF) |
            (bytes(off + 2 * j + 1) << 8)).toShort.toInt
          sumSq += s.toLong * s
          val neg = s < 0
          if (j > 0 && neg != prevNeg) zc += 1
          prevNeg = neg
          val a = math.abs(s)
          if (a > peak) peak = a
          j += 1
        }
        (n.toLong, sumSq, zc, peak)
      }
  }

  private def byteHex(c: Column): Column =
    lpad(hex(pmod(c, lit(256))), 2, "0")
  private def leU16Hex(c: Column): Column =
    concat(byteHex(c), byteHex(c.divide(lit(256)).cast("int")))
  private def leU32Hex(c: Column): Column = concat(
    byteHex(c), byteHex(c.divide(lit(256)).cast("int")),
    byteHex(c.divide(lit(65536)).cast("int")),
    byteHex(c.divide(lit(16777216)).cast("int")))

  /** Wrap a text/id table into an audio frame: a VALID PCM WAV payload
    * (real RIFF header assembled byte-for-byte with expressions, the
    * text's UTF-8 bytes as the sample data) plus encoding-side metadata.
    * Header fields derive from the text's byte length only —
    * SQL-expressible on purpose, so an external oracle can recompute
    * what [[probeAudio]] must parse back out of the bytes. */
  def withAudioPayload(df: DataFrame, srcCol: String,
                       contentCol: String = "content"): DataFrame = {
    val dataSize = octet_length(col(srcCol))
    val rate = (lit(8000) + pmod(dataSize * 7, lit(36001))).cast("int")
    val ch = (lit(1) + pmod(dataSize, lit(2))).cast("int")
    val blockAlign = ch * lit(2)
    val header = concat(
      lit("52494646"), leU32Hex(lit(36) + dataSize), // RIFF <size>
      lit("57415645"), lit("666d7420"), lit("10000000"), // WAVE fmt <16>
      lit("0100"), leU16Hex(ch), leU32Hex(rate), // PCM, channels, rate
      leU32Hex(rate * blockAlign), leU16Hex(blockAlign), lit("1000"), // 16-bit
      lit("64617461"), leU32Hex(dataSize)) // data <size>
    df.withColumn(contentCol,
        concat(unhex(header), col(srcCol).cast(BinaryType)))
      .withColumn("audio_meta", struct(
        rate.as("sample_rate"), ch.as("channels"), lit(16).as("bits"),
        (dataSize.cast("long") / blockAlign).cast("long").as("n_samples"),
        lit("wav").as("format")))
  }

  /** Wrap a text/id table into an MP3-framed audio frame: a REAL MPEG1
    * Layer III frame sequence — an ID3v2 tag (syncsafe size), then
    * `n_frames` frames whose 4-byte headers carry a bitrate/samplerate/
    * channel-mode choice derived from the text byte length, each frame
    * body filler-padded to its EXACT computed stride
    * (⌊144000·kbps/rate⌋) — so [[AudioCodec.parseMp3]] must walk the
    * strides correctly to count them. All header fields are
    * SQL-expressible functions of the length, so the oracle recomputes
    * what the parser must report. */
  def withMp3Payload(df: DataFrame, srcCol: String,
                     contentCol: String = "content"): DataFrame = {
    val ds = octet_length(col(srcCol))
    val bIdx = (lit(1) + pmod(ds, lit(14))).cast("int") // 1..14, never free/bad
    val kbps = element_at(
      array(Seq(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
        320).map(lit): _*), bIdx)
    val rIdx = pmod(ds, lit(3)).cast("int")
    val rate = element_at(array(lit(44100), lit(48000), lit(32000)),
      rIdx + 1)
    val ch = (lit(1) + pmod(ds, lit(2))).cast("int")
    val nFrames = (lit(1) + pmod(ds, lit(5))).cast("int")
    val frameLen = floor(lit(144000) * kbps / rate).cast("int") // pad 0
    val tagLen = pmod(ds, lit(17)).cast("int")
    // header: FF FB (MPEG1, Layer III, no CRC) | bitrate/rate/pad | mode
    val hdrHex = concat(lit("FFFB"),
      byteHex(bIdx * 16 + rIdx * 4),
      when(ch === 1, lit("C0")).otherwise(lit("00")))
    val frame = concat(unhex(hdrHex),
      repeat(lit("x"), frameLen - 4).cast(BinaryType))
    val id3 = concat(
      unhex(concat(lit("494433030000000000"), byteHex(tagLen))),
      repeat(lit("y"), tagLen).cast(BinaryType))
    val body = aggregate(sequence(lit(1), nFrames),
      lit(Array.empty[Byte]), (acc, _) => concat(acc, frame))
    df.withColumn(contentCol, concat(id3, body))
      .withColumn("audio_meta", struct(
        rate.as("sample_rate"), ch.as("channels"), lit(0).as("bits"),
        (nFrames.cast("long") * 1152L).as("n_samples"),
        lit("mp3").as("format")))
  }

  /** [[withMp3Payload]]'s sibling carrying a POPULATED ID3v2.3 tag:
    * TIT2 (title) and TPE1 (artist) text frames whose values derive
    * from the doc text (SQL-expressible — title = 'T' + the text's
    * first 8 chars, artist = 'A' + len mod 100), followed by one real
    * MPEG1 Layer III frame so the payload still probes as mp3. The
    * oracle recomputes the strings [[AudioCodec.id3Tags]] must parse
    * back out of the frame bytes. */
  def withMp3TagPayload(df: DataFrame, srcCol: String,
                        contentCol: String = "content"): DataFrame = {
    val ds = octet_length(col(srcCol))
    val title = concat(lit("T"), substring(col(srcCol), 1, 8))
    val artist = concat(lit("A"), pmod(ds, lit(100)).cast("string"))
    val tl = octet_length(title)
    val al = octet_length(artist)
    val tagSize = lit(10) + lit(1) + tl + lit(10) + lit(1) + al
    def textFrame(id: String, payload: Column, plen: Column): Column =
      concat(lit(id).cast(BinaryType), unhex(be32Hex(lit(1) + plen)),
        unhex(lit("000000")), payload.cast(BinaryType)) // flags + ISO enc
    // one 44.1kHz 128kbps stereo frame: stride 417
    val frame = concat(unhex(lit("FFFB9000")),
      repeat(lit("x"), lit(413)).cast(BinaryType))
    df.withColumn(contentCol, concat(
        unhex(concat(lit("494433030000000000"), byteHex(tagSize))),
        textFrame("TIT2", title, tl),
        textFrame("TPE1", artist, al),
        frame))
      .withColumn("tag_meta", struct(
        title.as("title"), artist.as("artist"),
        lit(null).cast("string").as("album")))
  }

  /** struct carried by [[audioTags]] */
  val tagsSchema: StructType = StructType(Seq(
    StructField("title", StringType, nullable = true),
    StructField("artist", StringType, nullable = true),
    StructField("album", StringType, nullable = true)))

  /** Per-partition streaming ID3 tag extraction → struct column
    * (title, artist, album) from [[AudioCodec.id3Tags]] — the join
    * keys of audio curation (dedup by artist+title, per-artist caps).
    * Null struct for non-ID3 payloads; absent frames are null
    * fields. */
  def audioTags(df0: DataFrame, contentCol: String,
                outCol: String = "tags",
                minPartitions: Option[Int] = None): DataFrame =
    byteKernel(df0, contentCol, outCol, tagsSchema, minPartitions) { bytes =>
      AudioCodec.id3Tags(bytes) match {
        case Some((t, a, al)) => Row(t.orNull, a.orNull, al.orNull)
        case None => null
      }
    }

  /** Per-partition streaming WAV probe → metadata struct parsed from the
    * payload BYTES (not trusted from upstream metadata). */
  def probeAudio(df0: DataFrame, contentCol: String,
                 outCol: String = "probed_audio",
                 minPartitions: Option[Int] = None): DataFrame =
    byteKernel(df0, contentCol, outCol, audioMetaSchema, minPartitions) { bytes =>
      val (rate, ch, bits, n, f) = AudioCodec.probe(bytes)
      Row(rate, ch, bits, n, f)
    }

  /** metadata struct carried next to every video payload */
  val videoMetaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("fps_num", IntegerType, nullable = false),
    StructField("fps_den", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /** YUV4MPEG2 (Y4M) container codec — the video leg of the multimodal
    * triple. Y4M is the fully documented uncompressed interchange format
    * (text stream header `YUV4MPEG2 W.. H.. F..:..`, then one `FRAME`
    * marker + raster per frame), so BOTH the header parse and the frame
    * COUNT are real byte work, no codec library. Compressed containers
    * (mp4/webm) would slot in without touching the Spark plumbing. */
  object VideoCodec {
    /** (width, height, fpsNum, fpsDen, nFrames) or None. Frames are
      * counted by walking `FRAME` markers with the 4:2:0 raster stride
      * (w*h*3/2); truncated payloads count the whole frames present. */
    private[operators] def parse(b: Array[Byte]): Option[(Int, Int, Int, Int, Long)] = {
      val magic = "YUV4MPEG2 ".getBytes("US-ASCII")
      if (b == null || b.length < magic.length) return None
      var i = 0
      while (i < magic.length) { if (b(i) != magic(i)) return None; i += 1 }
      var w, h, fn, fd = -1
      // header params are space-separated tags until '\n'
      while (i < b.length && b(i) != '\n'.toByte) {
        val tag = b(i)
        i += 1
        var v = 0; var v2 = -1; var num = true
        while (i < b.length && b(i) != ' '.toByte && b(i) != '\n'.toByte) {
          val c = b(i)
          if (c >= '0'.toByte && c <= '9'.toByte) {
            if (num) v = v * 10 + (c - '0'.toByte)
            else v2 = (if (v2 < 0) 0 else v2) * 10 + (c - '0'.toByte)
          } else if (c == ':'.toByte) num = false
          i += 1
        }
        if (i < b.length && b(i) == ' '.toByte) i += 1
        tag match {
          case 'W' => w = v
          case 'H' => h = v
          case 'F' => fn = v; fd = math.max(v2, 1)
          case _ => () // interlace/aspect/colorspace tags: irrelevant here
        }
      }
      if (w <= 0 || h <= 0 || i >= b.length) return None
      i += 1 // the header '\n'
      // count FRAME markers (params after FRAME allowed, ended by '\n')
      val frameStride = w.toLong * h * 3 / 2 // 4:2:0, the Y4M default
      var n = 0L
      val fm = "FRAME".getBytes("US-ASCII")
      var ok = true
      while (ok && i + fm.length <= b.length) {
        var j = 0
        while (j < fm.length && b(i + j) == fm(j)) j += 1
        if (j < fm.length) ok = false
        else {
          i += fm.length
          while (i < b.length && b(i) != '\n'.toByte) i += 1
          i += 1 // frame header '\n'
          if (i + frameStride <= b.length) { n += 1; i += frameStride.toInt }
          else ok = false // truncated trailing frame: not counted
        }
      }
      Some((w, h, math.max(fn, 1), math.max(fd, 1), n))
    }

    def probe(bytes: Array[Byte]): (Int, Int, Int, Int, Long, String) =
      parse(bytes) match {
        case Some((w, h, fn, fd, n)) => (w, h, fn, fd, n, "y4m")
        case None => parseMp4(bytes) match {
          case Some((w, h, ts, delta, n)) => (w, h, ts, delta, n, "mp4")
          case None => parseWebm(bytes) match {
            case Some((w, h, fn, fd, n, f)) => (w, h, fn, fd, n, f)
            case None => (0, 0, 0, 0, 0L, "unknown")
          }
        }
      }

    /** REAL inter-frame motion statistics over a Y4M stream — the
      * scene-cut / static-content discriminator for video curation,
      * exact in integers: walks the FRAME sections like [[parse]] but
      * keeps each raster and accumulates the sum of absolute byte
      * differences (SAD) between consecutive frames. Returns
      * (nFrames, totalSad, maxSad) — totalSad ≈ how much the video
      * moves, maxSad the sharpest single transition (a cut detector
      * thresholds it); a single-frame or static stream reads 0/0.
      * None for non-Y4M payloads; truncated trailing frames are not
      * counted (the [[parse]] posture). Y4M only on purpose: it is
      * the uncompressed interchange format, so per-pixel work needs
      * no codec — compressed containers would decode first. */
    private[graft] def frameDeltas(b: Array[Byte]): Option[(Long, Long, Long)] = {
      val magic = "YUV4MPEG2 ".getBytes("US-ASCII")
      if (b == null || b.length < magic.length) return None
      var i = 0
      while (i < magic.length) { if (b(i) != magic(i)) return None; i += 1 }
      var w, h = -1
      // header params: only W/H matter for the raster stride
      while (i < b.length && b(i) != '\n'.toByte) {
        val tag = b(i)
        i += 1
        var v = 0
        while (i < b.length && b(i) != ' '.toByte && b(i) != '\n'.toByte) {
          val c = b(i)
          if (c >= '0'.toByte && c <= '9'.toByte) v = v * 10 + (c - '0'.toByte)
          i += 1
        }
        if (i < b.length && b(i) == ' '.toByte) i += 1
        tag match {
          case 'W' => w = v
          case 'H' => h = v
          case _ => ()
        }
      }
      if (w <= 0 || h <= 0 || i >= b.length) return None
      i += 1
      // a poison header whose stride exceeds the payload can never fit
      // a frame — and bounding it here keeps the Int arithmetic safe
      val strideL = w.toLong * h * 3 / 2
      if (strideL <= 0 || strideL > b.length) return None
      val stride = strideL.toInt
      val fm = "FRAME".getBytes("US-ASCII")
      var prev = -1 // offset of the previous frame's raster
      var n = 0L
      var total = 0L
      var maxSad = 0L
      var ok = true
      while (ok && i + fm.length <= b.length) {
        var j = 0
        while (j < fm.length && b(i + j) == fm(j)) j += 1
        if (j < fm.length) ok = false
        else {
          i += fm.length
          while (i < b.length && b(i) != '\n'.toByte) i += 1
          i += 1
          if (i + stride <= b.length) {
            if (prev >= 0) {
              var sad = 0L
              var k = 0
              while (k < stride) {
                sad += math.abs((b(i + k) & 0xFF) - (b(prev + k) & 0xFF))
                k += 1
              }
              total += sad
              if (sad > maxSad) maxSad = sad
            }
            prev = i
            n += 1
            i += stride
          } else ok = false
        }
      }
      if (n <= 0) None else Some((n, total, maxSad))
    }

    /** (width, height, fpsNum = media timescale, fpsDen = stts sample
      * delta, nFrames = Σ stts sample counts) from an ISO-BMFF (MP4)
      * container, or None. A pure box walk — `[size(BE32) type(4cc)
      * body]`, size 1 → 64-bit largesize, size 0 → to end-of-file —
      * descending into moov → trak → mdia → minf → stbl; dimensions
      * come from tkhd's 16.16 fixed-point fields, the frame count and
      * nominal frame duration from the sample table's stts entries,
      * and the media timescale from mdhd — so fps = fps_num/fps_den is
      * real container arithmetic, no codec. The FIRST trak with a
      * nonzero tkhd width wins (the video track; audio traks carry
      * zero dims). Long cursor + must-advance guards: a poison u32
      * size can neither wrap the index nor loop the walk; truncated
      * boxes end the walk with whatever parsed (never-throw, the
      * crawl posture). */
    private[operators] def parseMp4(b: Array[Byte]): Option[(Int, Int, Int, Int, Long)] = {
      if (b == null || b.length < 16) return None
      def be32(o: Long): Long =
        ((b(o.toInt) & 0xFFL) << 24) | ((b(o.toInt + 1) & 0xFFL) << 16) |
          ((b(o.toInt + 2) & 0xFFL) << 8) | (b(o.toInt + 3) & 0xFFL)
      def tag(o: Long): String = new String(b, o.toInt, 4, "US-ASCII")
      var hasFtyp = false
      var w, h, ts, delta = -1
      var frames = -1L
      // one trak's candidate fields (committed if its tkhd is video)
      var tw, th, tts, tdelta = -1
      var tframes = -1L

      def walk(from: Long, to: Long, depth: Int): Unit = {
        var i = from
        while (i + 8 <= to) {
          val sz = be32(i)
          val typ = tag(i + 4)
          var hdr = 8L
          val end =
            if (sz == 1L) {
              if (i + 16 > to) return
              hdr = 16L
              val hi = be32(i + 8); val lo = be32(i + 12)
              i + ((hi << 32) | lo)
            } else if (sz == 0L) to
            else i + sz
          if (end < i + hdr || end > to) return // poison/truncated size
          typ match {
            case "ftyp" => hasFtyp = true
            case "moov" if depth == 0 => walk(i + hdr, end, 1)
            case "trak" if depth == 1 =>
              tw = -1; th = -1; tts = -1; tdelta = -1; tframes = -1L
              walk(i + hdr, end, 2)
              if (tw > 0 && th > 0 && w < 0) {
                w = tw; h = th; ts = tts; delta = tdelta; frames = tframes
              }
            case "mdia" if depth == 2 => walk(i + hdr, end, 3)
            case "minf" if depth == 3 => walk(i + hdr, end, 4)
            case "stbl" if depth == 4 => walk(i + hdr, end, 5)
            case "tkhd" if depth == 2 && i + hdr < end =>
              val v = b((i + hdr).toInt) & 0xFF
              // v0: 20 bytes of times/ids to the post-duration block;
              // v1 widens ctime/mtime/duration to 8 bytes (+12)
              val fixed = i + hdr + 4 + (if (v == 1) 32 else 20) + 8 + 8 + 36
              if (fixed + 8 <= end) {
                tw = (be32(fixed) >> 16).toInt
                th = (be32(fixed + 4) >> 16).toInt
              }
            case "mdhd" if depth == 3 && i + hdr < end =>
              val v = b((i + hdr).toInt) & 0xFF
              val tsOff = i + hdr + 4 + (if (v == 1) 16 else 8)
              if (tsOff + 4 <= end) tts = be32(tsOff).toInt
            case "stts" if depth == 5 =>
              val nEnt = if (i + hdr + 8 <= end) be32(i + hdr + 4) else -1L
              var e = 0L
              var cnt = 0L
              var o = i + hdr + 8
              while (e < nEnt && o + 8 <= end) {
                cnt += be32(o)
                if (e == 0) tdelta = be32(o + 4).toInt
                e += 1; o += 8
              }
              if (nEnt >= 0) tframes = cnt
            case _ => () // free/mdat/udta/…: skipped, never decoded
          }
          if (end <= i) return // must advance
          i = end
        }
      }
      walk(0L, b.length.toLong, 0)
      if (hasFtyp && w > 0 && h > 0 && ts > 0 && frames >= 0)
        Some((w, h, ts, math.max(tdelta0(delta), 0), frames))
      else None
    }
    private def tdelta0(d: Int): Int = if (d < 0) 0 else d

    /** EBML variable-length integer length from its first byte (the
      * leading-zeros-then-marker encoding); 0 = invalid. */
    private def vintLen(first: Int): Int = {
      var m = 0x80
      var n = 1
      while (m != 0 && (first & m) == 0) { m >>= 1; n += 1 }
      if (m == 0) 0 else n
    }

    /** (width, height, fpsNum, fpsDen, nFrames, docType) from a
      * Matroska/WebM container, or None. A pure EBML walk: the header
      * element (0x1A45DFA3) yields the DocType, then Segment →
      * Tracks → TrackEntry → Video carries PixelWidth/PixelHeight and
      * TrackEntry's DefaultDuration (ns per frame) gives the nominal
      * rate as 1e9/DefaultDuration — emitted as the exact ratio
      * (fps_num = 1e9, fps_den = DefaultDuration) since Matroska
      * stores per-frame durations, not a global fps — and frames are
      * counted as SimpleBlock elements across Clusters (block headers
      * only; no codec data is touched). Unknown-size elements (all
      * size bits set — the live-streamed Segment shape) extend to the
      * parent's end, per spec. Never-throw, must-advance, Long-safe:
      * the [[parseMp4]] posture. */
    private[operators] def parseWebm(b: Array[Byte]): Option[(Int, Int, Int, Int, Long, String)] = {
      if (b == null || b.length < 8) return None
      // (value, bytesRead); id keeps its marker bits, size strips them
      def readVint(i: Long, isId: Boolean): (Long, Int) = {
        if (i >= b.length) return (-1L, 0)
        val first = b(i.toInt) & 0xFF
        val n = vintLen(first)
        if (n == 0 || (isId && n > 4) || n > 8 || i + n > b.length)
          return (-1L, 0)
        var v: Long = if (isId) first else first & (0xFF >>> n)
        var k = 1
        while (k < n) { v = (v << 8) | (b((i + k).toInt) & 0xFF); k += 1 }
        // size of all ones = "unknown" → sentinel -2
        if (!isId && v == (1L << (7 * n)) - 1) (-2L, n) else (v, n)
      }
      def readUint(from: Long, len: Long): Long = {
        if (len <= 0 || len > 8 || from + len > b.length) return -1L
        var v = 0L
        var k = 0L
        while (k < len) { v = (v << 8) | (b((from + k).toInt) & 0xFF); k += 1 }
        v
      }
      var w, h = -1
      var dd = -1L
      var blocks = 0L
      var sawTracks = false
      var docType: String = null

      def walk(from: Long, to: Long, ctx: String): Unit = {
        var i = from
        var ok = true
        while (ok && i < to) {
          val (id, idLen) = readVint(i, isId = true)
          if (idLen == 0) return
          val (sz, szLen) = readVint(i + idLen, isId = false)
          if (szLen == 0) return
          val body = i + idLen + szLen
          // unknown size (all bits set) extends to the parent's end
          val end = if (sz == -2L) to else body + sz
          if (end > to) return // truncated element: walk what parsed
          (ctx, id) match {
            case ("top", 0x1A45DFA3L) => walk(body, end, "ebml")
            case ("ebml", 0x4282L) =>
              docType = new String(b, body.toInt, (end - body).toInt,
                "US-ASCII")
            case ("top", 0x18538067L) => walk(body, end, "segment")
            case ("segment", 0x1654AE6BL) =>
              sawTracks = true; walk(body, end, "tracks")
            case ("tracks", 0xAEL) => walk(body, end, "trackentry")
            case ("trackentry", 0x23E383L) =>
              if (dd < 0) dd = readUint(body, end - body)
            case ("trackentry", 0xE0L) => walk(body, end, "video")
            case ("video", 0xB0L) =>
              if (w < 0) w = readUint(body, end - body).toInt
            case ("video", 0xBAL) =>
              if (h < 0) h = readUint(body, end - body).toInt
            case ("segment", 0x1F43B675L) => walk(body, end, "cluster")
            case ("cluster", 0xA3L) => blocks += 1
            case _ => () // Info/SeekHead/Void/…: skipped
          }
          if (end <= i) ok = false else i = end
        }
      }
      walk(0L, b.length.toLong, "top")
      val fmt = docType match {
        case "webm" => "webm"
        case "matroska" => "matroska"
        case _ => null
      }
      if (fmt == null || !sawTracks || w <= 0 || h <= 0) None
      else {
        val (fn, fd) =
          if (dd > 0 && dd <= Int.MaxValue) (1000000000, dd.toInt)
          else (0, 0)
        Some((w, h, fn, fd, blocks, fmt))
      }
    }
  }

  /** Wrap a text/id table into a video frame: a VALID Y4M payload — real
    * stream header, `n_frames` FRAME sections whose 4:2:0 rasters are
    * deterministic repeats of the text bytes — plus encoding-side
    * metadata. Dimensions and frame count derive from the text byte
    * length only (SQL-expressible) so the oracle can recompute what
    * [[probeVideo]] must count back out of the bytes. Tiny 4x2 frames
    * keep the synthesized payload bounded (12 raster bytes per frame). */
  def withVideoPayload(df: DataFrame, srcCol: String,
                       contentCol: String = "content"): DataFrame = {
    val dataSize = octet_length(col(srcCol))
    val w = lit(4)
    val h = lit(2)
    val fpsNum = (lit(24) + pmod(dataSize, lit(7))).cast("int")
    val nFrames = (lit(1) + pmod(dataSize, lit(5))).cast("int")
    val stride = 12 // 4*2*3/2
    // one frame's raster: 12 bytes of the text's md5 hex — pure ASCII by
    // construction, so the byte stride equals the char count even for
    // multi-byte source text
    val raster = substring(md5(col(srcCol).cast(BinaryType)), 1, stride)
    val frame = concat(lit("FRAME\n"), raster)
    val header = concat(lit("YUV4MPEG2 W4 H2 F"), fpsNum.cast("string"),
      lit(":1 Ip A1:1 C420\n"))
    df.withColumn(contentCol,
        concat(header, concat_ws("",
          transform(sequence(lit(1), nFrames), _ => frame))).cast(BinaryType))
      .withColumn("video_meta", struct(
        w.as("width"), h.as("height"), fpsNum.as("fps_num"),
        lit(1).as("fps_den"), nFrames.cast("long").as("n_frames"),
        lit("y4m").as("format")))
  }

  /** [[withVideoPayload]] with VARYING frames — frame k's raster is the
    * first 12 chars of md5(text|k) instead of one repeated raster — so
    * inter-frame deltas are nonzero and [[videoFrameStats]] has real
    * motion to measure; every raster is SQL-recomputable, so the
    * oracle replays the SAD arithmetic byte for byte. */
  def withVideoPayload2(df: DataFrame, srcCol: String,
                        contentCol: String = "content"): DataFrame = {
    val dataSize = octet_length(col(srcCol))
    val fpsNum = (lit(24) + pmod(dataSize, lit(7))).cast("int")
    val nFrames = (lit(1) + pmod(dataSize, lit(5))).cast("int")
    val stride = 12 // 4*2*3/2
    val frame = (k: Column) => concat(lit("FRAME\n"),
      substring(md5(concat(col(srcCol).cast("string"), lit("|"),
        k.cast("string"))), 1, stride))
    val header = concat(lit("YUV4MPEG2 W4 H2 F"), fpsNum.cast("string"),
      lit(":1 Ip A1:1 C420\n"))
    df.withColumn(contentCol,
        concat(header, concat_ws("",
          transform(sequence(lit(1), nFrames), frame))).cast(BinaryType))
      .withColumn("video_meta", struct(
        lit(4).as("width"), lit(2).as("height"), fpsNum.as("fps_num"),
        lit(1).as("fps_den"), nFrames.cast("long").as("n_frames"),
        lit("y4m").as("format")))
  }

  /** struct carried by [[videoFrameStats]] */
  val frameStatsSchema: StructType = StructType(Seq(
    StructField("n_frames", LongType, nullable = false),
    StructField("total_sad", LongType, nullable = false),
    StructField("max_sad", LongType, nullable = false)))

  /** Per-partition streaming inter-frame motion statistics → struct
    * column (n_frames, total_sad, max_sad) from
    * [[VideoCodec.frameDeltas]] — the scene-cut / static-content
    * discriminator for video curation (a static slideshow reads
    * total_sad ≈ 0; a cut spikes max_sad), integer-exact and
    * hash-stable. Null for non-Y4M payloads; same iterator plumbing
    * as [[probeVideo]]. */
  def videoFrameStats(df0: DataFrame, contentCol: String,
                      outCol: String = "frame_stats",
                      minPartitions: Option[Int] = None): DataFrame =
    byteKernel(df0, contentCol, outCol, frameStatsSchema, minPartitions) { bytes =>
      VideoCodec.frameDeltas(bytes) match {
        case Some((n, tot, mx)) => Row(n, tot, mx)
        case None => null
      }
    }

  private def be32Hex(c: Column): Column = lpad(hex(c), 8, "0")
  private def be16Hex(c: Column): Column = lpad(hex(c), 4, "0")

  /** Wrap a text/id table into an ISO-BMFF (MP4) video frame: a REAL
    * minimal box tree — ftyp, moov{mvhd, trak{tkhd, mdia{mdhd,
    * minf{stbl{stts}}}}}, mdat — assembled byte-for-byte with
    * expressions. Dimensions ride tkhd's 16.16 fixed-point fields, the
    * media timescale rides mdhd, and the frame count + nominal frame
    * duration ride a one-entry stts; all derive from the text byte
    * length only (SQL-expressible) so the oracle recomputes what
    * [[VideoCodec.parseMp4]]'s box walk must report. mvhd carries a
    * DIFFERENT timescale (1000) on purpose: a parse that reads the
    * movie header instead of the media header fails the oracle. The
    * text bytes ride as the mdat payload (never parsed). */
  def withMp4Payload(df: DataFrame, srcCol: String,
                     contentCol: String = "content"): DataFrame = {
    val ds = octet_length(col(srcCol))
    val w = (lit(16) + pmod(ds * 3, lit(601))).cast("int")
    val h = (lit(16) + pmod(ds * 7, lit(401))).cast("int")
    val ts = (lit(600) + pmod(ds * 11, lit(29401))).cast("int")
    val delta = (lit(1) + pmod(ds, lit(1000))).cast("int")
    val nFrames = (lit(1) + pmod(ds, lit(2000))).cast("int")
    val matrix = "00010000" + "00000000" + "00000000" + "00000000" +
      "00010000" + "00000000" + "00000000" + "00000000" + "40000000"
    val hex = concat(
      // ftyp: major 'isom', minor 0x200
      lit("00000010" + "66747970" + "69736f6d" + "00000200"),
      lit("00000128" + "6d6f6f76"), // moov (296)
      // mvhd v0: timescale 1000 (decoy), duration 0
      lit("0000006C" + "6d766864" + "00000000" + "00000000" + "00000000" +
        "000003E8" + "00000000" + "00010000" + "0100" + "0000" +
        "0000000000000000" + matrix + "0" * 48 + "00000002"),
      lit("000000B4" + "7472616b"), // trak (180)
      // tkhd v0 (enabled|in-movie|in-preview), track 1, then the
      // 16.16 fixed-point dimensions
      lit("0000005C" + "746b6864" + "00000007" + "00000000" + "00000000" +
        "00000001" + "00000000" + "00000000" + "0000000000000000" +
        "0000" + "0000" + "0000" + "0000" + matrix),
      be16Hex(w), lit("0000"), be16Hex(h), lit("0000"),
      lit("00000050" + "6d646961"), // mdia (80)
      // mdhd v0: the REAL media timescale + duration, language 'und'
      lit("00000020" + "6d646864" + "00000000" + "00000000" + "00000000"),
      be32Hex(ts), be32Hex(nFrames.cast("long") * delta), lit("55C40000"),
      lit("00000028" + "6d696e66"), // minf (40)
      lit("00000020" + "7374626c"), // stbl (32)
      // stts: one (sample_count, sample_delta) entry
      lit("00000018" + "73747473" + "00000000" + "00000001"),
      be32Hex(nFrames), be32Hex(delta),
      be32Hex(ds + 8), lit("6d646174")) // mdat size + type
    df.withColumn(contentCol,
        concat(unhex(hex), col(srcCol).cast(BinaryType)))
      .withColumn("video_meta", struct(
        w.as("width"), h.as("height"), ts.as("fps_num"),
        delta.as("fps_den"), nFrames.cast("long").as("n_frames"),
        lit("mp4").as("format")))
  }

  /** Wrap a text/id table into a WebM (Matroska/EBML) video frame: a
    * REAL element tree — EBML header (DocType "webm"), Segment{
    * Info{TimestampScale}, Tracks{TrackEntry{DefaultDuration,
    * Video{PixelWidth, PixelHeight}}}, Cluster{n × SimpleBlock}} —
    * with 1-byte size varints (contents kept < 127 bytes by
    * construction). Dimensions, the per-frame duration (→ the nominal
    * fps ratio) and the SimpleBlock count derive from the text byte
    * length only, so the oracle recomputes what
    * [[VideoCodec.parseWebm]]'s EBML walk must report. */
  def withWebmPayload(df: DataFrame, srcCol: String,
                      contentCol: String = "content"): DataFrame = {
    val ds = octet_length(col(srcCol))
    val w = (lit(16) + pmod(ds * 5, lit(1201))).cast("int")
    val h = (lit(16) + pmod(ds * 9, lit(801))).cast("int")
    // ns per frame: ~24–40 fps territory, always < 2^31
    val dd = (lit(25000000) + pmod(ds * 13, lit(16666667))).cast("int")
    val nFrames = (lit(1) + pmod(ds, lit(5))).cast("int")
    // SimpleBlock: ID A3, size 4: track varint 81, timecode 0, flags 0
    val blockHex = "A384" + "81" + "0000" + "00"
    val clusterHex = concat(lit("1F43B675"),
      byteHex(lit(0x80) + nFrames * 6),
      concat_ws("", transform(sequence(lit(1), nFrames),
        _ => lit(blockHex))))
    val hex = concat(
      // EBML header: DocType "webm"
      lit("1A45DFA3" + "87" + "4282" + "84" + "7765626D"),
      // Segment size: Info(13) + Tracks(25) + Cluster(5 + 6n)
      lit("18538067"), byteHex(lit(0x80 + 43) + nFrames * 6),
      // Info{TimestampScale 1000000}
      lit("1549A966" + "88" + "2AD7B1" + "84" + "000F4240"),
      // Tracks{TrackEntry{DefaultDuration, Video{W, H}}}
      lit("1654AE6B" + "94" + "AE" + "92" + "23E383" + "84"),
      be32Hex(dd),
      lit("E0" + "88" + "B0" + "82"), be16Hex(w),
      lit("BA" + "82"), be16Hex(h),
      clusterHex)
    df.withColumn(contentCol, unhex(hex))
      .withColumn("video_meta", struct(
        w.as("width"), h.as("height"), lit(1000000000).as("fps_num"),
        dd.as("fps_den"), nFrames.cast("long").as("n_frames"),
        lit("webm").as("format")))
  }

  /** Per-partition streaming Y4M probe → metadata struct parsed and
    * frame-counted from the payload BYTES. */
  def probeVideo(df0: DataFrame, contentCol: String,
                 outCol: String = "probed_video",
                 minPartitions: Option[Int] = None): DataFrame =
    byteKernel(df0, contentCol, outCol, videoMetaSchema, minPartitions) { bytes =>
      val (w, h, fn, fd, n, f) = VideoCodec.probe(bytes)
      Row(w, h, fn, fd, n, f)
    }

  /** Metadata-level frame-sample plan for video: the kept frame indices
    * (every `everyN`-th, capped) — the same bookkeeping the existing
    * [[frameSamplePlan]] provides for a frame-count column, lifted onto
    * the probed video struct. */
  def videoFrameSamplePlan(df: DataFrame, metaCol: String, everyN: Int,
                           maxFrames: Int): DataFrame = {
    require(everyN > 0 && maxFrames > 0)
    val n = col(s"$metaCol.n_frames")
    df.withColumn("sampled_frames",
      when(n <= 0, array().cast(ArrayType(LongType, containsNull = false)))
        .otherwise(sequence(lit(0L),
          least((n - 1), lit((maxFrames - 1).toLong * everyN)),
          lit(everyN.toLong))))
  }

  /** Per-partition streaming audio decode → fixed-dim feature vector
    * column (same iterator plumbing as [[decodeImages]]). */
  def decodeAudio(df0: DataFrame, contentCol: String, dim: Int = 16,
                  outCol: String = "audio_features",
                  minPartitions: Option[Int] = None): DataFrame =
    byteKernel(df0, contentCol, outCol,
      ArrayType(FloatType, containsNull = false), minPartitions) { bytes =>
      AudioCodec.features(bytes, dim).toSeq
    }

  /** struct carried by [[audioStats]] */
  val pcmStatsSchema: StructType = StructType(Seq(
    StructField("n_samples", LongType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("zero_crossings", LongType, nullable = false),
    StructField("peak", IntegerType, nullable = false)))

  /** Per-partition streaming PCM signal statistics → struct column
    * (n_samples, sum_sq, zero_crossings, peak) from
    * [[AudioCodec.pcmStats]] — energy and zero-crossing rate are the
    * classic cheap speech/music/noise discriminators, so this is the
    * audio QUALITY GATE kernel (the audio twin of the text
    * quality-score scan): integer-exact, hash-stable, null for
    * non-PCM payloads. Same iterator plumbing as [[probeAudio]]. */
  def audioStats(df0: DataFrame, contentCol: String,
                 outCol: String = "pcm_stats",
                 minPartitions: Option[Int] = None): DataFrame =
    byteKernel(df0, contentCol, outCol, pcmStatsSchema, minPartitions) { bytes =>
      AudioCodec.pcmStats(bytes) match {
        case Some((n, sq, zc, pk)) => Row(n, sq, zc, pk)
        case None => null
      }
    }

  /** struct carried by [[audioSilence]] */
  val silenceSchema: StructType = StructType(Seq(
    StructField("n_windows", LongType, nullable = false),
    StructField("n_silent", LongType, nullable = false),
    StructField("max_window_energy", LongType, nullable = false)))

  /** Per-partition streaming windowed-energy profile → struct column
    * (n_windows, n_silent, max_window_energy) from
    * [[AudioCodec.silenceStats]] — the dead-air / truncated-upload
    * curation gate, integer-exact. Null for non-PCM payloads. */
  def audioSilence(df0: DataFrame, contentCol: String, window: Int,
                   threshold: Long, outCol: String = "silence",
                   minPartitions: Option[Int] = None): DataFrame = {
    require(window >= 1 && threshold >= 0)
    byteKernel(df0, contentCol, outCol, silenceSchema, minPartitions) { bytes =>
      AudioCodec.silenceStats(bytes, window, threshold) match {
        case Some((nw, ns, mx)) => Row(nw, ns, mx)
        case None => null
      }
    }
  }

  /** Metadata-level frame sampling: every `everyN`-th sample — the audio
    * analog of [[resizeMeta]] (bookkeeping as pure expressions; the
    * sample work is the codec's concern). */
  def frameSampleMeta(df: DataFrame, metaCol: String, everyN: Int): DataFrame = {
    require(everyN > 0)
    df.withColumn("sampled_meta", struct(
      (col(s"$metaCol.sample_rate") / everyN).cast("int").as("sample_rate"),
      col(s"$metaCol.channels").as("channels"),
      col(s"$metaCol.bits").as("bits"),
      ((col(s"$metaCol.n_samples") + everyN - 1)
        .divide(everyN)).cast("long").as("n_samples"),
      col(s"$metaCol.format").as("format")))
  }

  /** Metadata-level resize: target box, preserve aspect (pure expression —
    * the pixel work is the codec's concern, the bookkeeping is real). */
  def resizeMeta(df: DataFrame, metaCol: String, maxW: Int, maxH: Int): DataFrame = {
    val w = col(s"$metaCol.width").cast("double")
    val h = col(s"$metaCol.height").cast("double")
    val scale = least(lit(maxW) / w, lit(maxH) / h, lit(1.0))
    df.withColumn("resized_meta", struct(
      round(w * scale).cast("int").as("width"),
      round(h * scale).cast("int").as("height"),
      col(s"$metaCol.channels").as("channels"),
      col(s"$metaCol.format").as("format")))
  }

  /** Frame sampling plan for video-ish payloads: every k-th frame index up
    * to `maxFrames` — generated as an array column, exploded downstream by
    * the caller when fan-out is wanted. */
  def frameSamplePlan(df: DataFrame, nFramesCol: String, every: Int,
                      maxFrames: Int): DataFrame =
    df.withColumn("sampled_frames",
      slice(sequence(lit(0), greatest(col(nFramesCol) - 1, lit(0)), lit(every)),
        lit(1), lit(maxFrames)))
}
