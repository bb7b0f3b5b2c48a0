package graft.operators

import graft.{GraftQuery, Tables}
import graft.GraftQuery.q
import graft.Pin.PinOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media (image/audio/video) as opaque
  * `binary` columns with typed metadata, and a batched decode /
  * feature-extract stage.
  *
  * mm02's decode is a deterministic STUB (kept as the minimal
  * pipeline-shape twin); the REAL codecs live below it — mm04 parses
  * genuine BMP/PNG headers, mm05 decodes full pixel arrays (BMP
  * strides + zlib-DEFLATE'd, filter-reconstructed, CRC-verified PNG),
  * mm06 walks RIFF/WAV containers down to the PCM samples. All share
  * the one 100 TB shape: binary payload column + typed metadata, and
  * `mapPartitions` batch processing (one decoder instantiation per
  * partition, streaming batches through it — the Scala analog of
  * `mapInPandas`: amortized setup, bounded memory, no per-row
  * interpreter crossings).
  */
object MultimodalQueries {

  /** A "media" record: payload + the metadata a lakehouse would carry. */
  final case class MediaRecord(doc_id: Long, mime: String, n_bytes: Long,
      payload: Array[Byte])
  /** Stub decoder output — deterministic functions of the payload. */
  final case class MediaFeatures(doc_id: Long, width: Long, height: Long,
      n_frames: Long, checksum: String)

  /** Deterministic fake decode: stands in for image decode /
    * resize / frame sampling. Derives shape from payload length and
    * boundary bytes only, so an external SQL oracle can recompute it.
    * Instantiated once per partition (the codec-handle contract) and
    * reused across the batch — the md5 digest is reset, not realloc'd. */
  final class FakeDecoder extends Serializable {
    private val md = java.security.MessageDigest.getInstance("MD5")
    def decode(r: MediaRecord): MediaFeatures = {
      val first = if (r.payload.nonEmpty) r.payload(0) & 0xffL else 0L
      val last = if (r.payload.nonEmpty) r.payload(r.payload.length - 1) & 0xffL else 0L
      md.reset()
      MediaFeatures(
        doc_id = r.doc_id,
        width = 16L + first % 16L,
        height = 16L + last % 16L,
        n_frames = 1L + r.n_bytes % 4L,
        checksum = md.digest(r.payload).map("%02x".format(_)).mkString)
    }
  }

  /** documents.text reinterpreted as a binary payload corpus — the
    * testdata has no real media, so text bytes stand in. */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"),
        lit("application/octet-stream").as("mime"),
        length(col("text")).cast(LongType).as("n_bytes"),
        col("text").cast(BinaryType).as("payload"))
      .as[MediaRecord]
  }

  /** Batched decode: mapPartitions so decoder setup happens once per
    * partition — the real pattern for heavyweight codec handles. */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      val decoder = new FakeDecoder // ONE handle per partition
      batch.map(decoder.decode)
    }
  }

  /** One sampled "frame": a byte-range of the payload plus its digest. */
  final case class FrameSample(doc_id: Long, frame_idx: Long, offset: Long,
      frame_len: Long, frame_hash: String)

  /** Frame sampling: treat each payload as `n_frames` equal byte
    * chunks (last chunk takes the remainder) and emit every `stride`-th
    * frame. The row-to-frames explosion happens inside mapPartitions
    * with one digest handle per partition — the video-pipeline shape
    * where a partition's decoder streams frames without re-opening the
    * container per frame. Output size is bounded by
    * rows × ceil(maxFrames/stride), not payload bytes. */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int = 2): Dataset[FrameSample] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      val md = java.security.MessageDigest.getInstance("MD5") // per partition
      batch.flatMap { r =>
        val nFrames = 1L + r.n_bytes % 4L
        val chunk = r.n_bytes / nFrames
        (0L until nFrames by stride.toLong).iterator.map { k =>
          val start = (k * chunk).toInt
          val end = if (k == nFrames - 1) r.n_bytes.toInt else ((k + 1) * chunk).toInt
          md.reset()
          val hash = md.digest(java.util.Arrays.copyOfRange(r.payload, start, end))
            .map("%02x".format(_)).mkString
          FrameSample(r.doc_id, k, k * chunk, end - start, hash)
        }
      }
    }
  }

  /** Metadata projection over the binary column — schema plumbing. */
  val mm01BinaryMeta: GraftQuery = q(
    "mm01_binary_meta",
    "binary payload column + typed metadata",
    """SELECT doc_id, 'application/octet-stream' AS mime,
      |  CAST(LENGTH(text) AS BIGINT) AS n_bytes,
      |  md5(text) AS checksum
      |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"),
        lit("application/octet-stream").as("mime"),
        length(col("text")).cast(LongType).as("n_bytes"),
        md5(col("text").cast(BinaryType)).as("checksum"))
      .orderBy("doc_id")
  }

  /** The stubbed decode stage end-to-end through mapPartitions; the
    * oracle recomputes the same deterministic features from the text
    * bytes (ASCII corpus ⇒ first/last byte = first/last char). */
  val mm02DecodeFeatures: GraftQuery = q(
    "mm02_decode_features",
    "batched (mapPartitions) stub decode / feature extraction",
    """SELECT doc_id,
      |  CAST(16 + ascii(substr(text, 1, 1)) % 16 AS BIGINT) AS width,
      |  CAST(16 + ascii(substr(text, LENGTH(text), 1)) % 16 AS BIGINT) AS height,
      |  CAST(1 + LENGTH(text) % 4 AS BIGINT) AS n_frames,
      |  md5(text) AS checksum
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    decodeFeatures(mediaTable(s, d)).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("n_frames"), col("checksum"))
      .orderBy("doc_id")
  }

  /** Frame sampling end-to-end: every 2nd frame of each payload with
    * its byte range and digest; the oracle recomputes the same chunking
    * arithmetic and digests over text substrings (ASCII corpus ⇒ byte
    * slices = char slices). */
  val mm03FrameSample: GraftQuery = q(
    "mm03_frame_sample",
    "frame sampling over binary payloads (mapPartitions flatMap)",
    """WITH m AS (
      |  SELECT doc_id, text, LENGTH(text) AS n_bytes,
      |         1 + LENGTH(text) % 4 AS n_frames
      |  FROM documents WHERE doc_id < 200),
      |fr AS (
      |  SELECT doc_id, text, n_bytes, n_frames,
      |         UNNEST(generate_series(0, n_frames - 1)) AS k,
      |         n_bytes // n_frames AS chunk
      |  FROM m)
      |SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
      |  CAST(k * chunk AS BIGINT) AS offset,
      |  CAST(CASE WHEN k = n_frames - 1 THEN n_bytes - k * chunk ELSE chunk END AS BIGINT) AS frame_len,
      |  md5(substr(text, CAST(k * chunk + 1 AS INTEGER),
      |      CAST(CASE WHEN k = n_frames - 1 THEN n_bytes - k * chunk ELSE chunk END AS INTEGER))) AS frame_hash
      |FROM fr WHERE k % 2 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    import s.implicits._
    sampleFrames(mediaTable(s, d).filter(col("doc_id") < 200).as[MediaRecord])
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  // ------------------------------------------------- real header decode

  final case class ImgMeta(doc_id: Long, fmt: String, width: Long,
      height: Long, channels: Long)

  /** Serialize a REAL image container header so the decode stage has
    * actual bytes to parse: BMP (BITMAPINFOHEADER, little-endian) for
    * even doc_ids, PNG (signature + IHDR chunk, big-endian) for odd.
    * Dimensions derive from doc_id with integer arithmetic the oracle
    * replays column-side. */
  private[operators] object ImgCodec {
    private def le32(v: Int) = Array[Byte](
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    private def be32(v: Int) = le32(v).reverse

    def bmp(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(54)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte)
        .putInt(54) // file size (header-only payload)
        .putInt(0).putInt(54) // reserved, pixel-data offset
        .putInt(40) // BITMAPINFOHEADER size
        .putInt(w).putInt(h)
        .putShort(1) // planes
        .putShort(24) // bpp → 3 channels
      b.array()
    }

    val PngSig: Array[Byte] = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a,
      0x1a, 0x0a).map(_.toByte)
    def png(w: Int, h: Int): Array[Byte] =
      PngSig ++ be32(13) ++ "IHDR".getBytes("US-ASCII") ++
        be32(w) ++ be32(h) ++
        Array[Byte](8, 6, 0, 0, 0) ++ // depth 8, colorType 6 (RGBA), ...
        be32(0) // CRC slot (not validated here)

    /** The actual byte-level parse: dispatch on magic, then read the
      * dimension fields at their container offsets in the container's
      * endianness. Throws on unknown magic — decode errors must
      * surface, not pass as zeros. */
    def parse(docId: Long, p: Array[Byte]): ImgMeta = {
      def leAt(i: Int) = (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8) |
        ((p(i + 2) & 0xff) << 16) | ((p(i + 3) & 0xff) << 24)
      def beAt(i: Int) = ((p(i) & 0xff) << 24) | ((p(i + 1) & 0xff) << 16) |
        ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
      if (p.length >= 30 && p(0) == 'B' && p(1) == 'M') {
        val bpp = (p(28) & 0xff) | ((p(29) & 0xff) << 8)
        ImgMeta(docId, "bmp", leAt(18).toLong, leAt(22).toLong, bpp / 8L)
      } else if (p.length >= 26 && p.take(8).sameElements(PngSig)) {
        val channels = (p(25) & 0xff) match {
          case 0 => 1L; case 2 => 3L; case 4 => 2L; case 6 => 4L
          case c => throw new IllegalArgumentException(s"colorType $c")
        }
        ImgMeta(docId, "png", beAt(16).toLong, beAt(20).toLong, channels)
      } else throw new IllegalArgumentException(
        s"doc $docId: unknown image magic")
    }
  }

  /** mm04: REAL header decode, not the deterministic fake — the encode
    * stage writes genuine BMP/PNG container headers, the decode stage
    * byte-parses them back (magic dispatch, little- vs big-endian
    * dimension fields), both inside the per-partition batch path. The
    * oracle recomputes the expected scalars from the doc_id arithmetic
    * alone, so a parse that read the wrong offset, endianness, or
    * format would hash-mismatch. */
  val mm04HeaderDecode: GraftQuery = q(
    "mm04_header_decode",
    "real BMP/PNG header encode → byte-level decode (magic dispatch, both endiannesses)",
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
      |  CAST(16 + doc_id % 240 AS BIGINT) AS width,
      |  CAST(16 + (doc_id // 3) % 200 AS BIGINT) AS height,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS BIGINT) AS channels
      |FROM documents WHERE doc_id < 400
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val ids = Tables.documents(s, d).filter(col("doc_id") < 400)
      .select(col("doc_id")).as[Long]
    val media = ids.mapPartitions(_.map { id =>
      val w = (16 + id % 240).toInt
      val h = (16 + (id / 3) % 200).toInt
      val payload = if (id % 2 == 0) ImgCodec.bmp(w, h) else ImgCodec.png(w, h)
      MediaRecord(id, if (id % 2 == 0) "image/bmp" else "image/png",
        payload.length.toLong, payload)
    })
    media.mapPartitions(_.map(r => ImgCodec.parse(r.doc_id, r.payload)))
      .toDF()
      .orderBy("doc_id")
  }

  // ------------------------------------------------- real pixel decode

  /** Full-image pixel statistics — the decode output a training
    * pipeline actually files (channel sums for normalization, a
    * luminance histogram for exposure filtering, a row-weighted sum
    * that breaks on any orientation bug). All integers, so the oracle
    * check is exact. */
  final case class PixelStats(doc_id: Long, fmt: String, width: Long,
      height: Long, sum_r: Long, sum_g: Long, sum_b: Long, wsum_r: Long,
      hist0: Long, hist1: Long, hist2: Long, hist3: Long)

  /** REAL raster codecs over RGB8 images: a full 24-bpp BMP writer /
    * reader (bottom-up rows, BGR byte order, 4-byte row padding,
    * pixel-array offset honored) and a full 8-bit-RGB PNG writer /
    * reader (zlib-DEFLATE'd scanlines via `java.util.zip`, per-row
    * filter bytes with the spec's five reconstruction filters, CRC32
    * chunk verification). Nothing here knows the pixel-generation
    * formula — the decoder sees only container bytes, so a wrong
    * stride, filter reconstruction, endianness, channel order or row
    * orientation produces wrong sums and fails the oracle hash.
    *
    * This is the round-10 replacement for the capability mm02 only
    * stubbed: the mapPartitions batch shape is unchanged, the codec is
    * no longer fake. (PNG references: the public PNG spec's filter
    * definitions; DEFLATE via the JDK's zlib binding.)
    */
  private[operators] object PixelCodec {
    type PxFn = (Int, Int) => (Int, Int, Int) // (x, y) → (r, g, b)

    // ---- BMP: 54-byte headers + padded bottom-up BGR pixel array ----
    def encodeBmp(w: Int, h: Int, px: PxFn): Array[Byte] = {
      val stride = (3 * w + 3) & ~3 // rows pad to 4-byte boundary
      val size = 54 + stride * h
      val b = java.nio.ByteBuffer.allocate(size)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte)
        .putInt(size).putInt(0).putInt(54) // file size, reserved, data offset
        .putInt(40).putInt(w).putInt(h) // BITMAPINFOHEADER
        .putShort(1).putShort(24) // planes, bpp
        .putInt(0).putInt(stride * h) // BI_RGB, image size
        .putInt(2835).putInt(2835).putInt(0).putInt(0) // ppm, palette
      var fy = 0
      while (fy < h) {
        val y = h - 1 - fy // file rows run bottom-up
        var x = 0
        while (x < w) {
          val (r, g, bl) = px(x, y)
          b.put(bl.toByte).put(g.toByte).put(r.toByte) // BGR on disk
          x += 1
        }
        var pad = 3 * w
        while (pad < stride) { b.put(0.toByte); pad += 1 }
        fy += 1
      }
      b.array()
    }

    /** Decode a 24-bpp uncompressed BMP: dimensions and the pixel-array
      * offset come from the header (NOT assumed to be 54), rows are
      * bottom-up, pixels BGR, rows padded to 4 bytes. Calls `f(x, y,
      * r, g, b)` per pixel in file order. */
    def decodeBmp(p: Array[Byte], f: (Int, Int, Int, Int, Int) => Unit)
        : (Long, Long) = {
      def le32(i: Int) = (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8) |
        ((p(i + 2) & 0xff) << 16) | ((p(i + 3) & 0xff) << 24)
      require(p(0) == 'B' && p(1) == 'M', "not a BMP")
      val dataOff = le32(10)
      val w = le32(18)
      val h = le32(22)
      val bpp = (p(28) & 0xff) | ((p(29) & 0xff) << 8)
      require(bpp == 24, s"unsupported bpp $bpp")
      val stride = (3 * w + 3) & ~3
      var fy = 0
      while (fy < h) {
        val y = h - 1 - fy
        val row = dataOff + fy * stride
        var x = 0
        while (x < w) {
          val o = row + 3 * x
          f(x, y, p(o + 2) & 0xff, p(o + 1) & 0xff, p(o) & 0xff)
          x += 1
        }
        fy += 1
      }
      (w.toLong, h.toLong)
    }

    // ---- PNG: real zlib scanline compression + filter reconstruction ----
    private def crc32(chunks: Array[Byte]*): Int = {
      val c = new java.util.zip.CRC32
      chunks.foreach(c.update)
      c.getValue.toInt
    }
    private def be32(v: Int) = Array[Byte](
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
      val t = tag.getBytes("US-ASCII")
      be32(body.length) ++ t ++ body ++ be32(crc32(t, body))
    }

    /** 8-bit colorType-2 (RGB) PNG. Scanlines get REAL per-row filter
      * bytes — None on even rows, Sub on odd — then one zlib stream,
      * so the reader must run both the inflater and the reconstruction
      * arithmetic to get pixels back. */
    def encodePng(w: Int, h: Int, px: PxFn): Array[Byte] = {
      val raw = new Array[Byte](h * (1 + 3 * w))
      var y = 0
      while (y < h) {
        val row = y * (1 + 3 * w)
        val filt = y % 2 // 0 = None, 1 = Sub
        raw(row) = filt.toByte
        var x = 0
        while (x < w) {
          val (r, g, b) = px(x, y)
          val o = row + 1 + 3 * x
          if (filt == 0) { raw(o) = r.toByte; raw(o + 1) = g.toByte; raw(o + 2) = b.toByte }
          else { // Sub: raw = cur − left (mod 256)
            val (lr, lg, lb) = if (x == 0) (0, 0, 0) else px(x - 1, y)
            raw(o) = (r - lr).toByte; raw(o + 1) = (g - lg).toByte
            raw(o + 2) = (b - lb).toByte
          }
          x += 1
        }
        y += 1
      }
      val deflater = new java.util.zip.Deflater
      deflater.setInput(raw); deflater.finish()
      val out = new java.io.ByteArrayOutputStream
      val buf = new Array[Byte](8192)
      while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
      deflater.end()
      val ihdr = be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)
      ImgCodec.PngSig ++ chunk("IHDR", ihdr) ++
        chunk("IDAT", out.toByteArray) ++ chunk("IEND", Array.empty)
    }

    /** Decode an 8-bit RGB PNG: walk chunks (verifying each CRC32),
      * concatenate IDAT, inflate, then reconstruct scanlines per the
      * spec's five filters (None/Sub/Up/Average/Paeth — the encoder
      * only emits two, but a decoder that can't reconstruct the rest
      * isn't a PNG decoder). */
    def decodePng(p: Array[Byte], f: (Int, Int, Int, Int, Int) => Unit)
        : (Long, Long) = {
      require(p.take(8).sameElements(ImgCodec.PngSig), "not a PNG")
      def be32At(i: Int) = ((p(i) & 0xff) << 24) | ((p(i + 1) & 0xff) << 16) |
        ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
      var w = 0; var h = 0
      val idat = new java.io.ByteArrayOutputStream
      var pos = 8
      var done = false
      while (!done && pos + 8 <= p.length) {
        val len = be32At(pos)
        val tag = new String(p, pos + 4, 4, "US-ASCII")
        val body = java.util.Arrays.copyOfRange(p, pos + 8, pos + 8 + len)
        val crc = be32At(pos + 8 + len)
        require(crc == crc32(java.util.Arrays.copyOfRange(p, pos + 4, pos + 8),
          body), s"CRC mismatch in $tag")
        tag match {
          case "IHDR" =>
            w = be32At(pos + 8); h = be32At(pos + 12)
            require(p(pos + 16) == 8 && p(pos + 17) == 2,
              "only 8-bit RGB supported")
          case "IDAT" => idat.write(body)
          case "IEND" => done = true
          case _ => () // ancillary chunks skipped
        }
        pos += 12 + len
      }
      val inflater = new java.util.zip.Inflater
      inflater.setInput(idat.toByteArray)
      val raw = new Array[Byte](h * (1 + 3 * w))
      var got = 0
      while (got < raw.length && !inflater.finished())
        got += inflater.inflate(raw, got, raw.length - got)
      inflater.end()
      require(got == raw.length, s"short zlib stream: $got/${raw.length}")
      // filter reconstruction, row by row (prev = reconstructed row above)
      val bpp = 3
      val prev = new Array[Int](3 * w)
      val cur = new Array[Int](3 * w)
      var y = 0
      while (y < h) {
        val row = y * (1 + 3 * w)
        val filt = raw(row) & 0xff
        var i = 0
        while (i < 3 * w) {
          val x = raw(row + 1 + i) & 0xff
          val a = if (i >= bpp) cur(i - bpp) else 0 // left
          val b = prev(i) // up
          val c = if (i >= bpp) prev(i - bpp) else 0 // up-left
          cur(i) = filt match {
            case 0 => x
            case 1 => (x + a) & 0xff
            case 2 => (x + b) & 0xff
            case 3 => (x + (a + b) / 2) & 0xff
            case 4 => // Paeth predictor
              val pp = a + b - c
              val pa = math.abs(pp - a); val pb = math.abs(pp - b)
              val pc = math.abs(pp - c)
              val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
              (x + pred) & 0xff
            case other => throw new IllegalArgumentException(s"filter $other")
          }
          i += 1
        }
        var x = 0
        while (x < w) {
          f(x, y, cur(3 * x), cur(3 * x + 1), cur(3 * x + 2))
          x += 1
        }
        System.arraycopy(cur, 0, prev, 0, 3 * w)
        y += 1
      }
      (w.toLong, h.toLong)
    }

    /** Magic-dispatched decode → integer pixel statistics. */
    def stats(docId: Long, fmt: String, p: Array[Byte]): PixelStats = {
      var sr = 0L; var sg = 0L; var sb = 0L; var wr = 0L
      val hist = new Array[Long](4)
      val acc = (x: Int, y: Int, r: Int, g: Int, b: Int) => {
        sr += r; sg += g; sb += b; wr += y.toLong * r
        hist(((r + g + b) / 3) / 64) += 1
      }
      val (w, h) =
        if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') decodeBmp(p, acc)
        else decodePng(p, acc)
      PixelStats(docId, fmt, w, h, sr, sg, sb, wr,
        hist(0), hist(1), hist(2), hist(3))
    }
  }

  /** mm05: REAL pixel decode end-to-end — the encode stage serializes
    * genuine raster files (full 24-bpp BMPs for even ids, zlib-
    * compressed filtered PNGs for odd), the decode stage parses them
    * back byte-by-byte inside the per-partition batch path, and the
    * oracle recomputes every statistic from the deterministic pixel
    * formula alone. The decoder never sees that formula: a stride,
    * padding, filter, CRC, channel-order or orientation bug lands as a
    * wrong integer sum. wsum_r (Σ y·r) is the orientation canary —
    * BMP's bottom-up rows read top-down would flip it. */
  val mm05PixelDecode: GraftQuery = q(
    "mm05_pixel_decode",
    "real BMP + zlib-PNG pixel decoders → exact channel/histogram stats",
    """WITH docs AS (
      |  SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id // 5) % 16 AS h
      |  FROM documents WHERE doc_id < 300),
      |px AS (
      |  SELECT doc_id, w, h, x, y,
      |    (x*7 + y*3 + doc_id) % 256 AS r,
      |    (x*5 + y*11 + 2*doc_id) % 256 AS g,
      |    (x*13 + y*17 + 3*doc_id) % 256 AS b
      |  FROM docs, UNNEST(range(0, w)) AS gx(x), UNNEST(range(0, h)) AS gy(y))
      |SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
      |  CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
      |  CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
      |  CAST(SUM(b) AS BIGINT) AS sum_b,
      |  CAST(SUM(y*r) AS BIGINT) AS wsum_r,
      |  CAST(COUNT(CASE WHEN (r+g+b)//3 // 64 = 0 THEN 1 END) AS BIGINT) AS hist0,
      |  CAST(COUNT(CASE WHEN (r+g+b)//3 // 64 = 1 THEN 1 END) AS BIGINT) AS hist1,
      |  CAST(COUNT(CASE WHEN (r+g+b)//3 // 64 = 2 THEN 1 END) AS BIGINT) AS hist2,
      |  CAST(COUNT(CASE WHEN (r+g+b)//3 // 64 = 3 THEN 1 END) AS BIGINT) AS hist3
      |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val ids = Tables.documents(s, d).filter(col("doc_id") < 300)
      .select(col("doc_id")).as[Long]
    val media = ids.mapPartitions(_.map { id =>
      val w = (8 + id % 24).toInt
      val h = (8 + (id / 5) % 16).toInt
      val px: PixelCodec.PxFn = (x, y) => (
        ((x * 7 + y * 3 + id) % 256).toInt,
        ((x * 5 + y * 11 + 2 * id) % 256).toInt,
        ((x * 13 + y * 17 + 3 * id) % 256).toInt)
      val payload = if (id % 2 == 0) PixelCodec.encodeBmp(w, h, px)
        else PixelCodec.encodePng(w, h, px)
      MediaRecord(id, if (id % 2 == 0) "image/bmp" else "image/png",
        payload.length.toLong, payload)
    })
    media.mapPartitions(_.map(r => PixelCodec.stats(r.doc_id,
        if (r.mime.endsWith("bmp")) "bmp" else "png", r.payload)))
      .toDF()
      .orderBy("doc_id")
  }

  // ------------------------------------------------- real audio decode

  /** PCM sample statistics — the audio-QA row a speech pipeline files
    * per clip: duration, amplitude extremes, clipping count, mean
    * absolute level. All integer arithmetic → exact oracle. */
  final case class AudioStats(doc_id: Long, sample_rate: Long,
      n_samples: Long, duration_ms: Long, sum_s: Long, min_s: Long,
      max_s: Long, n_clipped: Long, sum_abs: Long)

  /** REAL WAV (RIFF/WAVE) writer + reader for 16-bit mono PCM: the
    * writer emits a spec-shaped container — RIFF size header, `fmt `
    * chunk (PCM, mono, 16-bit, byte-rate/block-align derived), an
    * odd-length ancillary chunk (RIFF pads chunks to even length — a
    * walker that forgets the pad byte desyncs and dies), then the
    * `data` chunk of little-endian int16 samples. The reader is a
    * chunk walker: it takes the rate from `fmt `, the sample count
    * from `data`'s byte length, skips unknown chunks by size+pad, and
    * never assumes chunk order or a fixed layout. The mm family's
    * third modality (mm04/mm05 images, mm03 video frames, mm06 audio).
    */
  private[operators] object WavCodec {
    def encode(rate: Int, samples: Array[Short]): Array[Byte] = {
      val note = "take1".getBytes("US-ASCII") // 5 bytes → 1 pad byte
      val notePadded = note.length + (note.length & 1)
      val dataLen = 2 * samples.length
      val riffLen = 4 + (8 + 16) + (8 + notePadded) + (8 + dataLen)
      val b = java.nio.ByteBuffer.allocate(8 + riffLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(riffLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1) // PCM
        .putShort(1) // mono
        .putInt(rate)
        .putInt(rate * 2) // byte rate
        .putShort(2) // block align
        .putShort(16) // bits per sample
        .put("note".getBytes("US-ASCII")).putInt(note.length).put(note)
        .put(0.toByte) // RIFF even-length pad
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(b.putShort)
      b.array()
    }

    def stats(docId: Long, p: Array[Byte]): AudioStats = {
      val b = java.nio.ByteBuffer.wrap(p)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(): String = {
        val t = new Array[Byte](4); b.get(t); new String(t, "US-ASCII")
      }
      require(tag() == "RIFF", "not a RIFF container")
      b.getInt // riff length (trust chunk walk, not this)
      require(tag() == "WAVE", "not a WAVE form")
      var rate = 0L
      var n = 0L
      var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
      var clip = 0L; var sabs = 0L
      var haveData = false
      while (b.remaining() >= 8) {
        val t = tag()
        val len = b.getInt
        t match {
          case "fmt " =>
            val fmtEnd = b.position() + len
            require(b.getShort == 1, "not PCM")
            require(b.getShort == 1, "not mono")
            rate = b.getInt.toLong
            b.getInt // byte rate
            b.getShort // block align
            require(b.getShort == 16, "not 16-bit")
            b.position(fmtEnd)
          case "data" =>
            require(rate > 0, "data chunk before fmt")
            n = len / 2L
            var i = 0L
            while (i < n) {
              val s = b.getShort.toLong
              sum += s; sabs += math.abs(s)
              if (s < mn) mn = s
              if (s > mx) mx = s
              if (math.abs(s) >= 30000) clip += 1
              i += 1
            }
            haveData = true
          case _ => b.position(b.position() + len + (len & 1)) // skip + pad
        }
      }
      require(haveData, "no data chunk")
      AudioStats(docId, rate, n, n * 1000L / rate, sum, mn, mx, clip, sabs)
    }
  }

  /** mm06: WAV/PCM decode end-to-end — genuine RIFF containers (with
    * an odd-length ancillary chunk the walker must pad past) encoded
    * from a deterministic sample formula, decoded back via the chunk
    * walker, reduced to exact integer clip statistics the oracle
    * recomputes from the formula. A wrong endianness, a missed pad
    * byte, a sign error in the int16 read, or a byte-vs-sample count
    * confusion each lands as a wrong sum/min/max. */
  val mm06AudioDecode: GraftQuery = q(
    "mm06_audio_decode",
    "real WAV/PCM decode: RIFF chunk walk → exact amplitude/clipping stats",
    """WITH docs AS (
      |  SELECT doc_id, 8000*(1 + doc_id % 3) AS rate, 200 + doc_id % 300 AS n
      |  FROM documents WHERE doc_id < 300),
      |smp AS (
      |  SELECT doc_id, rate, n, i,
      |    ((i*(doc_id+7)*31 + 3*i*i) % 65536) - 32768 AS s
      |  FROM docs, UNNEST(range(0, n)) AS gi(i))
      |SELECT doc_id, CAST(MAX(rate) AS BIGINT) AS sample_rate,
      |  CAST(MAX(n) AS BIGINT) AS n_samples,
      |  CAST(MAX(n)*1000 // MAX(rate) AS BIGINT) AS duration_ms,
      |  CAST(SUM(s) AS BIGINT) AS sum_s,
      |  CAST(MIN(s) AS BIGINT) AS min_s, CAST(MAX(s) AS BIGINT) AS max_s,
      |  CAST(COUNT(CASE WHEN ABS(s) >= 30000 THEN 1 END) AS BIGINT) AS n_clipped,
      |  CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs
      |FROM smp GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val ids = Tables.documents(s, d).filter(col("doc_id") < 300)
      .select(col("doc_id")).as[Long]
    val media = ids.mapPartitions(_.map { id =>
      val rate = (8000 * (1 + id % 3)).toInt
      val n = (200 + id % 300).toInt
      val samples = Array.tabulate(n)(i =>
        (((i.toLong * (id + 7) * 31 + 3L * i * i) % 65536L) - 32768L).toShort)
      val payload = WavCodec.encode(rate, samples)
      MediaRecord(id, "audio/wav", payload.length.toLong, payload)
    })
    media.mapPartitions(_.map(r => WavCodec.stats(r.doc_id, r.payload)))
      .toDF()
      .orderBy("doc_id")
  }

  /** Per-video container + sampled-frame stats (see [[Y4mCodec]]). */
  final case class VideoStats(doc_id: Long, width: Long, height: Long,
      n_frames: Long, fps_num: Long, duration_ms: Long,
      n_sampled: Long, sum_y: Long, min_y: Long, max_y: Long)

  /** Real VIDEO container codec — YUV4MPEG2 (Y4M), the uncompressed
    * interchange format every video toolchain (ffmpeg, mjpegtools,
    * VP9/AV1 test vectors) reads and writes: an ASCII parameter header
    * (`YUV4MPEG2 W.. H.. F<num>:<den> .. C444\n`), then per frame an
    * ASCII `FRAME\n` marker followed by raw planar Y, U, V bytes.
    * The decoder genuinely parses the container — header tags by key,
    * frame markers by scan, plane offsets by computed geometry —
    * which is the honest video analog of mm05's BMP/PNG and mm06's
    * RIFF/WAV walks (compressed codecs like H.264 need licensed
    * libraries this container deliberately avoids; production would
    * swap the plane reader, not the pipeline). */
  private[operators] object Y4mCodec {
    def encode(w: Int, h: Int, num: Int, den: Int, nFrames: Int,
        yuv: (Int, Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val header = s"YUV4MPEG2 W$w H$h F$num:$den Ip A1:1 C444\n"
        .getBytes("US-ASCII")
      val fm = "FRAME\n".getBytes("US-ASCII")
      val out = java.nio.ByteBuffer.allocate(
        header.length + nFrames * (fm.length + 3 * w * h))
      out.put(header)
      for (f <- 0 until nFrames) {
        out.put(fm)
        // three full-resolution planes (C444), row-major
        for (p <- 0 until 3; y <- 0 until h; x <- 0 until w) {
          val (yy, uu, vv) = yuv(f, x, y)
          out.put((p match { case 0 => yy; case 1 => uu; case _ => vv }).toByte)
        }
      }
      out.array()
    }

    /** Parse the container and frame-sample (every 3rd frame — mm03's
      * sampling policy over a REAL container): exact integer luma
      * stats over sampled frames only. */
    def stats(docId: Long, p: Array[Byte]): VideoStats = {
      val nl = p.indexOf('\n'.toByte)
      val header = new String(p, 0, nl, "US-ASCII")
      val tags = header.split(" ")
      require(tags(0) == "YUV4MPEG2", s"bad magic: ${tags(0)}")
      def tag(prefix: Char): String =
        tags.find(t => t.nonEmpty && t(0) == prefix)
          .getOrElse(sys.error(s"missing $prefix tag")).drop(1)
      val w = tag('W').toInt
      val h = tag('H').toInt
      val Array(num, den) = tag('F').split(":").map(_.toInt)
      require(tag('C') == "444", "this reader handles C444 planes")
      val frameBytes = 3 * w * h
      var off = nl + 1
      var f = 0
      var nSampled = 0L
      var sumY = 0L
      var minY = 256L
      var maxY = -1L
      while (off < p.length) {
        // FRAME marker line (parameters allowed after FRAME; none emitted)
        val me = p.indexOf('\n'.toByte, off)
        require(new String(p, off, 5, "US-ASCII") == "FRAME",
          s"bad frame marker at $off")
        off = me + 1
        if (f % 3 == 0) {
          nSampled += 1
          var i = 0
          while (i < w * h) { // Y plane only — luma stats
            val v = p(off + i) & 0xff
            sumY += v
            if (v < minY) minY = v
            if (v > maxY) maxY = v
            i += 1
          }
        }
        off += frameBytes
        f += 1
      }
      VideoStats(docId, w, h, f, num,
        f.toLong * 1000L * den / num, nSampled, sumY, minY, maxY)
    }
  }

  /** mm09: the video leg of the real-codec family (mm05 image, mm06
    * audio): deterministic Y4M payloads decoded by an actual container
    * parser, frames SAMPLED (every 3rd — the policy a training
    * pipeline uses so a 2-hour video doesn't contribute 200k frames),
    * exact integer luma stats per video. Same mapPartitions shape as
    * the other codecs: per-byte linear, embarrassingly parallel, only
    * the final ORDER BY exchanges. */
  val mm09VideoDecode: GraftQuery = q(
    "mm09_video_decode",
    "real Y4M video container walk: header tags, frame markers, planar reads, every-3rd-frame sampling",
    """WITH docs AS (
      |  SELECT doc_id, 8 + (doc_id % 5) * 2 AS w, 6 + (doc_id % 7) * 2 AS h,
      |    4 + doc_id % 9 AS nf, 24 + doc_id % 2 AS num
      |  FROM documents WHERE doc_id < 240),
      |px AS (
      |  SELECT doc_id, w, h, nf, num, f,
      |    (x*7 + y*11 + f*13 + doc_id*17) % 256 AS yv
      |  FROM docs,
      |    UNNEST(range(0, nf)) AS gf(f),
      |    UNNEST(range(0, h)) AS gy(y),
      |    UNNEST(range(0, w)) AS gx(x)
      |  WHERE f % 3 = 0)
      |SELECT doc_id, CAST(MAX(w) AS BIGINT) AS width,
      |  CAST(MAX(h) AS BIGINT) AS height,
      |  CAST(MAX(nf) AS BIGINT) AS n_frames,
      |  CAST(MAX(num) AS BIGINT) AS fps_num,
      |  CAST(MAX(nf) * 1000 // MAX(num) AS BIGINT) AS duration_ms,
      |  CAST(COUNT(DISTINCT f) AS BIGINT) AS n_sampled,
      |  CAST(SUM(yv) AS BIGINT) AS sum_y,
      |  CAST(MIN(yv) AS BIGINT) AS min_y,
      |  CAST(MAX(yv) AS BIGINT) AS max_y
      |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val ids = Tables.documents(s, d).filter(col("doc_id") < 240)
      .select(col("doc_id")).as[Long]
    val media = ids.mapPartitions(_.map { id =>
      val w = (8 + (id % 5) * 2).toInt
      val h = (6 + (id % 7) * 2).toInt
      val nf = (4 + id % 9).toInt
      val num = (24 + id % 2).toInt
      val payload = Y4mCodec.encode(w, h, num, 1, nf, (f, x, y) =>
        (((x * 7 + y * 11 + f * 13 + id * 17) % 256).toInt,
          ((x * 3 + y * 5 + f * 19) % 256).toInt,
          ((x * 13 + y * 3 + f * 7) % 256).toInt))
      MediaRecord(id, "video/x-yuv4mpeg", payload.length.toLong, payload)
    })
    media.mapPartitions(_.map(r => Y4mCodec.stats(r.doc_id, r.payload)))
      .toDF()
      .orderBy("doc_id")
  }

  // --------------------------------------- perceptual-hash image dedup

  /** Per-image perceptual fingerprint: the decoded raster pooled to a
    * 9×8 luminance grid, dHashed to 64 horizontal-gradient bits. */
  final case class PHashRow(doc_id: Long, fmt: String, w: Long, h: Long,
      phash: String)

  /** dHash (difference hash) over a decoded raster: average-pool the
    * pixels into a 9×8 luminance grid (cell = x*9/w, y*8/h — the
    * integer "resize" every perceptual-hash library performs), then
    * emit one bit per horizontally adjacent cell pair (right > left).
    * Resolution- and container-independent by construction: any two
    * images whose pooled grids match hash identically, whatever their
    * dimensions or codec. */
  private[operators] object PerceptualHash {
    def dhash(p: Array[Byte]): (Long, Long, String) = {
      val sum = Array.ofDim[Long](9, 8)
      val cnt = Array.ofDim[Long](9, 8)
      // cell assignment needs the image dims, which the decoders only
      // return after the walk — buffer the (tiny) luminance raster
      // through the callback, then pool once dims are known. Memory is
      // O(one image), the same bound the decode itself already has.
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      val collect = (x: Int, y: Int, r: Int, g: Int, b: Int) => {
        buf += ((x, y, (r + g + b) / 3)); ()
      }
      val (w, h) =
        if (p.length >= 2 && p(0) == 'B' && p(1) == 'M')
          PixelCodec.decodeBmp(p, collect)
        else PixelCodec.decodePng(p, collect)
      buf.foreach { case (x, y, lum) =>
        val cx = (x * 9 / w).toInt
        val cy = (y * 8 / h).toInt
        sum(cx)(cy) += lum
        cnt(cx)(cy) += 1
      }
      val cell = Array.tabulate(9, 8)((cx, cy) =>
        if (cnt(cx)(cy) == 0) 0L else sum(cx)(cy) / cnt(cx)(cy))
      val bits = new StringBuilder(64)
      var cy = 0
      while (cy < 8) {
        var cx = 0
        while (cx < 8) {
          bits.append(if (cell(cx + 1)(cy) > cell(cx)(cy)) '1' else '0')
          cx += 1
        }
        cy += 1
      }
      (w, h, bits.toString)
    }
  }

  /** mm07: perceptual-hash image dedup — the multimodal twin of the
    * dd family. The fixture encodes 7 underlying IMAGE PATTERNS, each
    * rendered at ~51 different resolutions and serialized through two
    * different containers (BMP for even ids, PNG for odd — 7 and 2
    * are coprime, so every pattern group contains both), so every
    * byte-level signal — payload checksum, file length, even the
    * decoded dimensions — splits what is visually one image. The
    * pipeline decodes the real rasters (mm05's codecs), pools each to
    * a 9×8 luminance grid, dHashes the gradients, and groups by the
    * hash: 7 groups re-emerge, each spanning both formats and dozens
    * of dimension variants. n_formats > 1 in every group is the
    * measured proof that byte-level dedup cannot find these pairs.
    *
    * The pixel formula is constant within each pooled cell (pattern
    * value at (x*9/w, y*8/h)), which makes the pooled means — and so
    * the hash — EXACTLY resolution-invariant and lets the oracle
    * recompute the same 64 bits from the cell formula alone, never
    * touching container bytes. The decoder doesn't know any of that:
    * it pools whatever pixels the codecs hand it, so every stride /
    * filter / orientation bug still lands as a wrong bit.
    *
    * Scale shape: decode + hash is one mapPartitions pass (per-byte
    * linear, embarrassingly parallel); the dedup is ONE groupBy on a
    * 64-bit key — the exact-dedup (dd01) shape, so the 100 TB story is
    * the grouping's, already probed flat. Hamming-radius (near-dup)
    * variants compose with dd17's block-permutation equi-join on the
    * same 64-bit keys. */
  val mm07PhashDedup: GraftQuery = q(
    "mm07_phash_dedup",
    "perceptual dHash over real decoded rasters: cross-format, cross-resolution image dedup",
    """WITH docs AS (
      |  SELECT doc_id, doc_id % 7 AS p,
      |    CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
      |    9 + doc_id % 24 AS w, 8 + (doc_id // 5) % 16 AS h
      |  FROM documents WHERE doc_id < 360),
      |cells AS (
      |  SELECT doc_id, fmt, w, h, cx, cy,
      |    (((cx*31 + cy*17 + p*53) % 256) + ((cx*13 + cy*29 + p*71) % 256)
      |      + ((cx*37 + cy*11 + p*89) % 256)) // 3 AS lum
      |  FROM docs, UNNEST(range(0, 9)) AS gx(cx), UNNEST(range(0, 8)) AS gy(cy)),
      |bits AS (
      |  SELECT a.doc_id, a.fmt, a.w, a.h, a.cy, a.cx,
      |    CASE WHEN b.lum > a.lum THEN '1' ELSE '0' END AS bit
      |  FROM cells a JOIN cells b
      |    ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
      |  WHERE a.cx < 8),
      |ph AS (
      |  SELECT doc_id, MIN(fmt) AS fmt, MIN(w) AS w, MIN(h) AS h,
      |    string_agg(bit, '' ORDER BY cy, cx) AS phash
      |  FROM bits GROUP BY doc_id)
      |SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT fmt) AS BIGINT) AS n_formats,
      |  CAST(COUNT(DISTINCT w*1000 + h) AS BIGINT) AS n_dims,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM ph GROUP BY phash ORDER BY phash, min_doc""".stripMargin) { (s, d) =>
    import s.implicits._
    val ids = Tables.documents(s, d).filter(col("doc_id") < 360)
      .select(col("doc_id")).as[Long]
    val media = ids.mapPartitions(_.map { id =>
      val p = id % 7
      val w = (9 + id % 24).toInt
      val h = (8 + (id / 5) % 16).toInt
      // pattern value at the POOLED cell — constant within each cell,
      // so the pooled mean is exactly resolution-independent
      val px: PixelCodec.PxFn = (x, y) => {
        val cx = x * 9 / w
        val cy = y * 8 / h
        (((cx * 31 + cy * 17 + p * 53) % 256).toInt,
          ((cx * 13 + cy * 29 + p * 71) % 256).toInt,
          ((cx * 37 + cy * 11 + p * 89) % 256).toInt)
      }
      val payload = if (id % 2 == 0) PixelCodec.encodeBmp(w, h, px)
        else PixelCodec.encodePng(w, h, px)
      MediaRecord(id, if (id % 2 == 0) "image/bmp" else "image/png",
        payload.length.toLong, payload)
    })
    media.mapPartitions(_.map { r =>
        val (w, h, phash) = PerceptualHash.dhash(r.payload)
        PHashRow(r.doc_id, if (r.mime.endsWith("bmp")) "bmp" else "png",
          w, h, phash)
      })
      .toDF()
      .groupBy("phash")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fmt")).as("n_formats"),
        countDistinct(col("w") * 1000 + col("h")).as("n_dims"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("phash", "min_doc")
  }

  /** mm08: perceptual NEAR-dup — mm07's real-decode dHash composed
    * with dd17's block-permutation hamming join. The fixture perturbs
    * ONE pooled cell of every third image (+96 luminance at cell
    * (p+1, 2)), which flips at most the two gradient bits that cell
    * participates in — a near-duplicate (hamming 1–2) of its base
    * pattern that EXACT phash dedup (mm07) can no longer group. The
    * operator: collapse to distinct hashes first (the dd19/ss03
    * representative discipline — the pair join never sees copies),
    * split each 64-bit hash into 4×16-bit blocks (pigeonhole: any two
    * hashes within hamming ≤ 3 agree on ≥ 1 whole block), equi-join
    * per block index, exact 64-position distance only on candidates.
    * Same shape at 100 TB: the join is block-bucketed, candidates
    * track true near-dup density, and the distance check is per-pair
    * constant work. Hashes travel as 64-char bit strings (a BIGINT
    * encoding would put bit 63 in the sign — '//'-division block
    * extraction then diverges between engines; strings sidestep the
    * signedness entirely and the 16-char block key equi-joins just as
    * well). */
  val mm08PhashNeardup: GraftQuery = {
    val hamSql = (0 until 64).map(i =>
      s"(CASE WHEN substr(ha, ${i + 1}, 1) <> substr(hb, ${i + 1}, 1) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    def chSql(base: String) =
      s"(CASE WHEN pert AND cx = p + 1 AND cy = 2 THEN (($base) % 256 + 96) % 256 ELSE ($base) % 256 END)"
    q("mm08_phash_neardup",
      "perceptual near-dup: dHash over real rasters + block-permutation hamming<=3 join",
      s"""WITH docs AS (
         |  SELECT doc_id, doc_id % 7 AS p, doc_id % 3 = 0 AS pert,
         |    9 + doc_id % 24 AS w, 8 + (doc_id // 5) % 16 AS h
         |  FROM documents WHERE doc_id < 360),
         |cells AS (
         |  SELECT doc_id, cx, cy,
         |    (${chSql("cx*31 + cy*17 + p*53")}
         |     + ${chSql("cx*13 + cy*29 + p*71")}
         |     + ${chSql("cx*37 + cy*11 + p*89")}) // 3 AS lum
         |  FROM docs, UNNEST(range(0, 9)) AS gx(cx), UNNEST(range(0, 8)) AS gy(cy)),
         |bits AS (
         |  SELECT a.doc_id, a.cy, a.cx,
         |    CASE WHEN b.lum > a.lum THEN '1' ELSE '0' END AS bit
         |  FROM cells a JOIN cells b
         |    ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
         |  WHERE a.cx < 8),
         |ph AS (
         |  SELECT doc_id, string_agg(bit, '' ORDER BY cy, cx) AS phash
         |  FROM bits GROUP BY doc_id),
         |fam AS (
         |  SELECT phash, MIN(doc_id) AS rep, COUNT(*) AS n_copies
         |  FROM ph GROUP BY phash),
         |blocks AS (
         |  SELECT rep, phash, n_copies, b, substr(phash, 1 + b * 16, 16) AS bv
         |  FROM fam, UNNEST([0, 1, 2, 3]) AS t(b)),
         |cand AS (
         |  SELECT DISTINCT a.rep AS a_id, b.rep AS b_id,
         |    a.phash AS ha, b.phash AS hb,
         |    a.n_copies AS a_copies, b.n_copies AS b_copies
         |  FROM blocks a JOIN blocks b
         |    ON a.b = b.b AND a.bv = b.bv AND a.rep < b.rep)
         |SELECT a_id, b_id, CAST($hamSql AS BIGINT) AS hamming,
         |  a_copies, b_copies
         |FROM cand WHERE $hamSql <= 3
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ids = Tables.documents(s, d).filter(col("doc_id") < 360)
        .select(col("doc_id")).as[Long]
      val media = ids.mapPartitions(_.map { id =>
        val p = id % 7
        val pert = id % 3 == 0
        val w = (9 + id % 24).toInt
        val h = (8 + (id / 5) % 16).toInt
        val px: PixelCodec.PxFn = (x, y) => {
          val cx = x * 9 / w
          val cy = y * 8 / h
          def ch(base: Long): Int = {
            val v = (base % 256).toInt
            if (pert && cx == p + 1 && cy == 2) (v + 96) % 256 else v
          }
          (ch(cx * 31 + cy * 17 + p * 53),
            ch(cx * 13 + cy * 29 + p * 71),
            ch(cx * 37 + cy * 11 + p * 89))
        }
        val payload = if (id % 2 == 0) PixelCodec.encodeBmp(w, h, px)
          else PixelCodec.encodePng(w, h, px)
        MediaRecord(id, if (id % 2 == 0) "image/bmp" else "image/png",
          payload.length.toLong, payload)
      })
      val fam = media.mapPartitions(_.map { r =>
          val (_, _, phash) = PerceptualHash.dhash(r.payload)
          (r.doc_id, phash)
        }).toDF("doc_id", "phash")
        .groupBy("phash")
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_copies"))
      val blocks = fam.select(col("rep"), col("phash"), col("n_copies"),
          explode(array((0 until 4).map(b => struct(lit(b).as("b"),
            substring(col("phash"), 1 + b * 16, 16).as("bv"))): _*)).as("e"))
        .select(col("rep"), col("phash"), col("n_copies"),
          col("e.b").as("b"), col("e.bv").as("bv"))
        .pinned // one decode+hash pass feeds guard + both join sides
      // dd17's guard discipline on the perceptual variant: exact-hash
      // twins collapsed in fam, but a dense perceptual ball (burst of
      // near-identical frames/crops) makes the block-bucket candidate
      // set Θ(ball²); bound it before the join materializes
      PairGuard.check(blocks, Seq(col("b"), col("bv")),
        "mm08_phash_neardup", "dd20_star_components")
      val cand = blocks.as("ba").join(blocks.as("bb"),
          col("ba.b") === col("bb.b") && col("ba.bv") === col("bb.bv") &&
            col("ba.rep") < col("bb.rep"))
        .select(col("ba.rep").as("a_id"), col("bb.rep").as("b_id"),
          col("ba.phash").as("ha"), col("bb.phash").as("hb"),
          col("ba.n_copies").as("a_copies"), col("bb.n_copies").as("b_copies"))
        .distinct()
      val ham = (0 until 64).map(i =>
        when(substring(col("ha"), i + 1, 1) =!= substring(col("hb"), i + 1, 1),
          1).otherwise(0)).reduceLeft(_ + _)
      cand.withColumn("hamming", ham.cast(LongType))
        .filter(col("hamming") <= 3)
        .select(col("a_id"), col("b_id"), col("hamming"),
          col("a_copies"), col("b_copies"))
        .orderBy("a_id", "b_id")
    }
  }

  val all: Seq[GraftQuery] =
    Seq(mm01BinaryMeta, mm02DecodeFeatures, mm03FrameSample, mm04HeaderDecode,
      mm05PixelDecode, mm06AudioDecode, mm07PhashDedup, mm08PhashNeardup,
      mm09VideoDecode)
}
