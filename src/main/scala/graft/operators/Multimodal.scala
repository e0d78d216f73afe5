package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY §2b): media as opaque `binary` columns
  * plus typed metadata, with the decode/feature-extract step batched per
  * partition (the shape a Pandas-UDF / mapInPandas pipeline has in
  * production). CONTAINER parsing is real — PNG/JPEG dimensions and
  * WAV sample-rate/channels are read from the actual header bytes
  * ([[parseImageHeader]], [[parseWavHeader]]; no external libs needed:
  * these formats carry their metadata in fixed-layout segments). Content
  * decoding is real too, all JDK-only: PNG pixels via IDAT inflate +
  * scanline unfiltering ([[pngPixelBytes]]), JPEG pixels via the
  * `javax.imageio` baseline reader canonicalized to row-major RGB
  * ([[jpegPixelBytes]]), WAV PCM via the RIFF data chunk
  * ([[wavPcmBytes]]). The deterministic stub remains only for payloads
  * OUTSIDE those containers (unknown formats) so the Spark-side schema,
  * partitioning and batch plumbing stay exercised end-to-end on any corpus.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("media_type", StringType),
    StructField("payload", BinaryType),
    StructField("n_bytes", LongType)))

  /** Wrap a text corpus as a fake media table: payload = utf-8 bytes.
    * In production this column would be the raw image/audio bytes read from
    * a binary-file source (`spark.read.format("binaryFile")`).
    */
  def asMediaTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      (when(col(idCol) % 2 === 0, "image").otherwise("audio")).as("media_type"),
      encode(col(textCol), "UTF-8").as("payload"),
      octet_length(encode(col(textCol), "UTF-8")).cast("long").as("n_bytes"))

  /** Real image-container parser: width/height/format read from the actual
    * header bytes. PNG stores dimensions at fixed offsets in the IHDR chunk
    * (always the first chunk after the 8-byte signature: width big-endian at
    * byte 16, height at 20). JPEG stores them in the start-of-frame (SOFn)
    * segment, found by walking the marker stream — each non-standalone
    * marker is FF xx followed by a 2-byte big-endian length that includes
    * itself; SOFn is FF C0–CF excluding C4 (DHT), C8 (JPG ext) and CC (DAC),
    * with payload [precision:1][height:2][width:2]. Returns None for
    * anything that is not a well-formed PNG/JPEG prefix — the caller falls
    * back to the deterministic stub, so corrupt bytes degrade, not throw.
    */
  private[operators] def parseImageHeader(p: Array[Byte]): Option[(Long, Long, String)] = {
    def u8(i: Int): Int = p(i) & 0xFF
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def u32(i: Int): Long =
      ((p(i) & 0xFFL) << 24) | ((p(i + 1) & 0xFFL) << 16) |
        ((p(i + 2) & 0xFFL) << 8) | (p(i + 3) & 0xFFL)
    if (p.length >= 24 &&
        u8(0) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G' &&
        u8(4) == 0x0D && u8(5) == 0x0A && u8(6) == 0x1A && u8(7) == 0x0A &&
        p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R') {
      Some((u32(16), u32(20), "png"))
    } else if (p.length >= 4 && u8(0) == 0xFF && u8(1) == 0xD8) {
      var i = 2
      while (i + 3 < p.length) {
        if (u8(i) != 0xFF) return None // expected a marker: corrupt stream
        val m = u8(i + 1)
        if (m == 0xFF) i += 1 // fill byte before a marker
        else if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) i += 2 // standalone
        else {
          val len = u16(i + 2)
          if (len < 2) return None
          val isSof = m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC
          if (isSof) {
            // dims sit at payload offsets 3..6, so a valid SOF length is
            // >= 7 (len counts itself) — shorter means the bytes at
            // i+5..i+8 belong to the NEXT segment, not this one
            if (len < 7 || i + 8 >= p.length) return None
            return Some((u16(i + 7).toLong, u16(i + 5).toLong, "jpeg"))
          }
          i += 2 + len
        }
      }
      None
    } else None
  }

  /** Real audio-container parser: sample rate / channel count read from an
    * actual RIFF/WAVE header. Layout: "RIFF" + 4-byte LE riff size +
    * "WAVE", then a chunk stream of (4-byte id, 4-byte LE size, payload) —
    * the "fmt " chunk holds [audioFormat:2][channels:2 LE][sampleRate:4 LE]
    * [byteRate:4][blockAlign:2][bitsPerSample:2]. Returns None for
    * anything that is not a well-formed WAV prefix (caller falls back to
    * the stub, same contract as [[parseImageHeader]]).
    */
  private[operators] def parseWavHeader(p: Array[Byte]): Option[(Long, Long)] = {
    def u16le(i: Int): Int = (p(i) & 0xFF) | ((p(i + 1) & 0xFF) << 8)
    def u32le(i: Int): Long =
      (p(i) & 0xFFL) | ((p(i + 1) & 0xFFL) << 8) |
        ((p(i + 2) & 0xFFL) << 16) | ((p(i + 3) & 0xFFL) << 24)
    def tag(i: Int, s: String): Boolean =
      i + 3 < p.length && p(i) == s(0).toByte && p(i + 1) == s(1).toByte &&
        p(i + 2) == s(2).toByte && p(i + 3) == s(3).toByte
    if (p.length < 28 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    // the cursor is Long and every declared size is range-checked BEFORE
    // advancing: a malicious chunk size near 2^31 (or 2^32-1) must return
    // None, never wrap the cursor negative into an ArrayIndexOutOfBounds —
    // one corrupt blob would otherwise fail the whole decode task instead
    // of degrading to the stub
    var i = 12L
    while (i + 8 <= p.length) {
      val ii = i.toInt
      val size = u32le(ii + 4)
      if (tag(ii, "fmt ")) {
        if (size < 16 || i + 8 + 16 > p.length) return None
        val channels = u16le(ii + 10).toLong
        val sampleRate = u32le(ii + 12)
        if (channels < 1 || sampleRate < 1) return None
        return Some((sampleRate, channels))
      }
      // chunks are word-aligned: odd sizes carry a pad byte
      i += 8L + size + (size & 1L)
    }
    None
  }

  /** Rolling content checksum — the same 31-fold mod 1e9+7 the payload
    * checksum uses, over DECODED content bytes (PNG pixels / WAV PCM).
    */
  private def rollsum(bytes: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < bytes.length) { acc = (acc * 31 + (bytes(i) & 0xFF)) % 1000000007L; i += 1 }
    acc
  }

  /** Cap on decompressed pixel-buffer size per blob (64 MiB): a PNG header
    * declaring absurd dimensions must degrade to header-only metadata, not
    * allocate executor memory on attacker-controlled numbers.
    */
  private final val MaxPixelBytes = 64L << 20

  /** REAL PNG pixel decode, JDK-only: concatenate the IDAT chunks' zlib
    * stream, inflate it with `java.util.zip.Inflater`, and reconstruct the
    * scanlines through the five standard PNG filters (None/Sub/Up/Average/
    * Paeth — plain byte arithmetic). Returns the unfiltered pixel bytes in
    * scanline order (the exact byte layout the IHDR declares: `channels ×
    * bit-depth` bits per pixel, rows padded to whole bytes), or None for
    * anything outside the decodable envelope — interlaced images (Adam7
    * needs seven sub-image passes; out of scope), declared buffers over
    * [[MaxPixelBytes]], truncated/corrupt zlib streams — so bad blobs
    * degrade to header-only metadata, never throw. Chunk CRCs are not
    * verified: corruption surfaces as an inflate failure, and a CRC pass
    * over every blob would double the per-byte cost for no extra signal.
    */
  private[operators] def pngPixelBytes(p: Array[Byte]): Option[Array[Byte]] = {
    def u8(i: Int): Int = p(i) & 0xFF
    def u32(i: Int): Long =
      ((p(i) & 0xFFL) << 24) | ((p(i + 1) & 0xFFL) << 16) |
        ((p(i + 2) & 0xFFL) << 8) | (p(i + 3) & 0xFFL)
    if (p.length < 33) return None
    val width = u32(16)
    val height = u32(20)
    val depth = u8(24)
    val colorType = u8(25)
    val interlace = u8(28)
    if (interlace != 0 || width < 1 || height < 1) return None
    val channels = colorType match {
      case 0 => 1 // greyscale
      case 2 => 3 // truecolor
      case 3 => 1 // palette indices (the pixel bytes ARE the indices)
      case 4 => 2 // grey + alpha
      case 6 => 4 // truecolor + alpha
      case _ => return None
    }
    if (!Set(1, 2, 4, 8, 16).contains(depth)) return None
    val bitsPerPixel = channels * depth
    val rowBytes = (width * bitsPerPixel + 7) / 8
    val bpp = math.max(1, bitsPerPixel / 8) // filter step, whole bytes
    // cap each factor BEFORE multiplying: 2^31-scale declared dimensions
    // would overflow the Long product, wrap negative, and sail past the
    // size cap into a garbage allocation
    if (rowBytes > MaxPixelBytes || height > MaxPixelBytes) return None
    val rawSize = (rowBytes + 1) * height // +1 filter byte per scanline
    if (rawSize > MaxPixelBytes) return None
    // gather the IDAT zlib stream (IDAT chunks must be consecutive per the
    // spec, but the walk tolerates interleaved ancillary chunks)
    val idat = new java.io.ByteArrayOutputStream()
    var i = 8L
    var sawEnd = false
    while (!sawEnd && i + 8 <= p.length) {
      val ii = i.toInt
      val len = u32(ii)
      if (i + 12 + len > p.length) return None // truncated chunk
      val typ = new String(p, ii + 4, 4, "US-ASCII")
      if (typ == "IDAT") idat.write(p, ii + 8, len.toInt)
      else if (typ == "IEND") sawEnd = true
      i += 12 + len
    }
    val z = idat.toByteArray
    if (z.isEmpty) return None
    val raw = new Array[Byte](rawSize.toInt)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(z)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        // truncated stream, or a preset-dictionary stream (illegal in PNG)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        off += n
      }
      if (off < raw.length) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    // unfilter in place into the pixel buffer (filter bytes dropped)
    val out = new Array[Byte]((rowBytes * height).toInt)
    val rb = rowBytes.toInt
    var r = 0
    while (r < height) {
      val filter = raw(r * (rb + 1)) & 0xFF
      val src = r * (rb + 1) + 1
      val dst = r * rb
      var x = 0
      while (x < rb) {
        val a = if (x >= bpp) out(dst + x - bpp) & 0xFF else 0 // left
        val b = if (r > 0) out(dst - rb + x) & 0xFF else 0 // up
        val c = if (r > 0 && x >= bpp) out(dst - rb + x - bpp) & 0xFF else 0
        val rec = filter match {
          case 0 => raw(src + x) & 0xFF
          case 1 => (raw(src + x) & 0xFF) + a
          case 2 => (raw(src + x) & 0xFF) + b
          case 3 => (raw(src + x) & 0xFF) + ((a + b) >> 1)
          case 4 =>
            val pp = a + b - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            (raw(src + x) & 0xFF) + pred
          case _ => return None // invalid filter type
        }
        out(dst + x) = (rec & 0xFF).toByte
        x += 1
      }
      r += 1
    }
    Some(out)
  }

  /** REAL JPEG pixel decode, JDK-only: `javax.imageio.ImageIO`'s baseline
    * JPEG reader (the huffman/DCT entropy decode a hand-rolled parser can't
    * reasonably provide — same public-knowledge JDK class the PNG spec
    * already uses as its reference encoder). Output is CANONICALIZED to
    * row-major RGB triplets via `getRGB`, so the checksum does not depend
    * on the reader's internal raster layout (TYPE_3BYTE_BGR vs banded).
    * Dimensions are read from the reader BEFORE `read(0)` and checked
    * against [[MaxPixelBytes]] — attacker-declared dimensions must degrade
    * to header-only metadata, never allocate. Any decode failure
    * (truncated entropy stream, CMYK/arithmetic-coded variants the JDK
    * reader rejects) returns None: bad blobs degrade, never throw.
    */
  private[operators] def jpegPixelBytes(p: Array[Byte]): Option[Array[Byte]] = {
    var iis: javax.imageio.stream.ImageInputStream = null
    var reader: javax.imageio.ImageReader = null
    try {
      // MemoryCacheImageInputStream DIRECTLY, not ImageIO.createImageInputStream:
      // the factory defaults to a FileCacheImageInputStream (getUseCache=true),
      // which spools every in-memory payload to a disk temp file per decode —
      // doubled I/O and file-handle churn on the executor hot path
      iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(p))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return None
      reader = readers.next()
      reader.setInput(iis, true, true)
      val w = reader.getWidth(0)
      val h = reader.getHeight(0)
      if (w < 1 || h < 1 || 3L * w * h > MaxPixelBytes) return None
      val img = reader.read(0)
      val out = new Array[Byte](3 * w * h)
      val row = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, row, 0, w)
        var x = 0
        while (x < w) {
          val rgb = row(x)
          val o = (y * w + x) * 3
          out(o) = ((rgb >> 16) & 0xFF).toByte
          out(o + 1) = ((rgb >> 8) & 0xFF).toByte
          out(o + 2) = (rgb & 0xFF).toByte
          x += 1
        }
        y += 1
      }
      Some(out)
    } catch {
      case _: Exception => None
    } finally {
      if (reader != null) reader.dispose()
      if (iis != null) try iis.close() catch { case _: Exception => () }
    }
  }

  /** REAL WAV sample extraction: the PCM bytes of the `data` chunk, found
    * by the same range-checked RIFF walk as [[parseWavHeader]]. None when
    * the chunk is missing or its declared size runs past the payload.
    */
  private[operators] def wavPcmBytes(p: Array[Byte]): Option[Array[Byte]] = {
    def u32le(i: Int): Long =
      (p(i) & 0xFFL) | ((p(i + 1) & 0xFFL) << 8) |
        ((p(i + 2) & 0xFFL) << 16) | ((p(i + 3) & 0xFFL) << 24)
    def tag(i: Int, s: String): Boolean =
      i + 3 < p.length && p(i) == s(0).toByte && p(i + 1) == s(1).toByte &&
        p(i + 2) == s(2).toByte && p(i + 3) == s(3).toByte
    if (p.length < 12 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var i = 12L
    while (i + 8 <= p.length) {
      val ii = i.toInt
      val size = u32le(ii + 4)
      if (tag(ii, "data")) {
        if (i + 8 + size > p.length) return None // declared size overruns
        return Some(java.util.Arrays.copyOfRange(p, ii + 8, (i + 8 + size).toInt))
      }
      i += 8L + size + (size & 1L)
    }
    None
  }

  /** STUB decoder: deterministic fake for payloads [[parseImageHeader]] /
    * [[parseWavHeader]] cannot handle (unknown containers, pixel-level
    * features). A real pipeline swaps this for the codec call; everything
    * around it (partition batching, output schema, null passthrough) is
    * production-shaped.
    */
  private def decodeStub(checksum: Long): (Long, Long) = {
    // deterministic fake derived from the payload checksum (a real codec
    // goes here); takes the checksum, not the bytes, so the corpus-sized
    // hot loop folds each payload exactly once
    val w = 16 + (checksum % 1920)
    val h = 16 + ((checksum / 7) % 1080)
    (w, h)
  }

  /** Header parse first (image, then audio), stub fallback:
    * (width, height, sample_rate, channels, checksum, content_checksum,
    * format). `format` is the parsed container ("png"/"jpeg"/"wav") or null
    * when the metadata came from the stub — downstream can filter on real
    * decodes. `content_checksum` is the rolling checksum of the DECODED
    * content — PNG unfiltered pixel bytes ([[pngPixelBytes]]: real IDAT
    * inflate + scanline reconstruction), JPEG canonical RGB raster
    * ([[jpegPixelBytes]]: the JDK ImageIO entropy decode), or WAV PCM data
    * bytes ([[wavPcmBytes]]) — null only for payloads outside the
    * decodable envelope; the header fields keep
    * whatever the container parse produced either way. Image rows carry
    * null audio fields and vice versa (a metadata table over a mixed
    * corpus is sparse by nature; readers select their modality).
    */
  private def decodeOne(payload: Array[Byte])
      : (java.lang.Long, java.lang.Long, java.lang.Long, java.lang.Long, Long, java.lang.Long, String) = {
    val checksum = rollsum(payload) // same fold; the helper avoids per-byte boxing
    parseImageHeader(payload) match {
      case Some((w, h, fmt)) =>
        val cc: java.lang.Long =
          if (fmt == "png") pngPixelBytes(payload).map(b => Long.box(rollsum(b))).orNull
          else jpegPixelBytes(payload).map(b => Long.box(rollsum(b))).orNull
        (w, h, null, null, checksum, cc, fmt)
      case None => parseWavHeader(payload) match {
        case Some((sr, ch)) =>
          val cc: java.lang.Long =
            wavPcmBytes(payload).map(b => Long.box(rollsum(b))).orNull
          (null, null, sr, ch, checksum, cc, "wav")
        case None =>
          val (w, h) = decodeStub(checksum)
          (w, h, null, null, checksum, null, null)
      }
    }
  }

  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("sample_rate", LongType),
    StructField("channels", LongType),
    StructField("checksum", LongType),
    StructField("content_checksum", LongType),
    StructField("format", StringType)))

  // read nullable long columns as raw boxed values: getAs[Long] would unbox
  // a NULL to 0L, silently corrupting ids (and colliding with doc_id 0)
  private def raw(r: Row, name: String): Any = r.get(r.fieldIndex(name))

  /** Batched decode: one stub call per row, executed per partition — no
    * per-row task overhead, no driver involvement; the 100 TB path just
    * raises partition count.
    */
  def decode(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(decodedSchema)
    media.select("doc_id", "media_type", "payload", "n_bytes")
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          if (payload == null) {
            // null passthrough: missing blobs keep their row, metadata null
            Row(raw(r, "doc_id"), r.getAs[String]("media_type"),
              raw(r, "n_bytes"), null, null, null, null, null, null, null)
          } else {
            val (w, h, sr, ch, cs, cc, fmt) = decodeOne(payload)
            Row(raw(r, "doc_id"), r.getAs[String]("media_type"),
              raw(r, "n_bytes"), w, h, sr, ch, cs, cc, fmt)
          }
        }
      }(enc)
  }

  /** Minimal PNG encoder (filter 0 + one zlib stream), JDK-only — the
    * fixture/synthesis counterpart of [[pngPixelBytes]]. Greyscale
    * (colorType 0) or RGB (colorType 2), depth 8. Used by the q103/q104
    * image synthesis and the multimodal specs; NOT size-optimized (no
    * filter search) because the decode side is what's under test.
    */
  private[graft] def encodePng(pixels: Array[Byte], width: Int, height: Int,
                               channels: Int): Array[Byte] = {
    require(channels == 1 || channels == 3, s"encodePng: 1 or 3 channels, got $channels")
    require(pixels.length == width * height * channels,
      s"encodePng: ${pixels.length} bytes for ${width}x$height x$channels")
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(out)
      d.writeInt(data.length)
      val tb = typ.getBytes("US-ASCII")
      d.write(tb); d.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      d.writeInt(crc.getValue.toInt)
      out.toByteArray
    }
    val ihdr = new java.io.ByteArrayOutputStream()
    val hd = new java.io.DataOutputStream(ihdr)
    hd.writeInt(width); hd.writeInt(height)
    hd.writeByte(8) // bit depth
    hd.writeByte(if (channels == 1) 0 else 2) // grey / truecolor
    hd.writeByte(0); hd.writeByte(0); hd.writeByte(0) // deflate/filter/no interlace
    val rowBytes = width * channels
    val raw = new Array[Byte]((rowBytes + 1) * height) // filter byte 0 per row
    var r = 0
    while (r < height) {
      System.arraycopy(pixels, r * rowBytes, raw, r * (rowBytes + 1) + 1, rowBytes)
      r += 1
    }
    val defl = new java.util.zip.Deflater()
    val z = new java.io.ByteArrayOutputStream()
    try {
      defl.setInput(raw); defl.finish()
      val buf = new Array[Byte](8192)
      while (!defl.finished()) z.write(buf, 0, defl.deflate(buf))
    } finally defl.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
    out.write(chunk("IHDR", ihdr.toByteArray))
    out.write(chunk("IDAT", z.toByteArray))
    out.write(chunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  /** Synthesize a REAL-PNG media table from a keyed corpus (round 11): one
    * 18×8 greyscale PNG per row, CELL-constant pixels (2×1-px dHash cells)
    * `v(gc, y) = hex16(md5(tpl ":" gc ":" y)) % 200 (+40 iff doc_id%5=0 ∧
    * gc=0)` with `tpl = doc_id % groups` — engine-portable arithmetic a
    * flat SQL oracle replicates WITHOUT decoding any PNG. That is the
    * point: q103/q104 push these payloads through the real
    * encode→inflate→unfilter→luma→dHash loop while the oracle computes the
    * expected hash analytically, so a driver hash-match certifies the
    * whole codec loop is lossless and the hash arithmetic engine-exact.
    *
    * md5 (not a linear formula) matters at SCALE: distinct templates must
    * get near-distinct dHashes, or every band bucket exceeds the q104 cap
    * and the query reads 0 rows on big corpora (measured: the first
    * linear-gradient formula collapsed 41k sf10 templates onto a handful
    * of hashes — the q96-at-sf10 degeneracy, caught the same session).
    * `groups` controls planted-duplicate multiplicity (same tpl ⇒ same
    * base image); the +40 bump on grid column 0 gives bumped-vs-unbumped
    * same-template pairs a nonzero-but-small hamming distance. Cell
    * values are memoized per template (one 72-digest set per template per
    * partition, not per doc).
    */
  def synthImageTable(docs: DataFrame, idCol: String, groups: Long): DataFrame = {
    require(groups >= 1, s"synthImageTable: groups must be >= 1, got $groups")
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    docs.select(col(idCol).cast("long").as("doc_id"))
      .mapPartitions { rows =>
        val cellCache = new java.util.HashMap[Long, Array[Int]]()
        def cells(tpl: Long): Array[Int] = {
          val hit = cellCache.get(tpl)
          if (hit != null) return hit
          val md = java.security.MessageDigest.getInstance("MD5")
          val cv = new Array[Int](9 * 8)
          var y = 0
          while (y < 8) {
            var gc = 0
            while (gc < 9) {
              val d = md.digest(s"$tpl:$gc:$y".getBytes("UTF-8"))
              // first 4 hex chars = first 2 digest bytes, big-endian
              cv(y * 9 + gc) = (((d(0) & 0xFF) << 8) | (d(1) & 0xFF)) % 200
              gc += 1
            }
            y += 1
          }
          cellCache.put(tpl, cv)
          cv
        }
        rows.map { r =>
          val id = r.getLong(0)
          val tpl = ((id % groups) + groups) % groups
          val bump = id % 5 == 0
          val cv = cells(tpl)
          val px = new Array[Byte](18 * 8)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 18) {
              var v = cv(y * 9 + x / 2)
              if (bump && x < 2) v += 40
              px(y * 18 + x) = v.toByte
              x += 1
            }
            y += 1
          }
          val payload = encodePng(px, 18, 8, 1)
          Row(id, "image", payload, payload.length.toLong)
        }
      }(enc)
  }

  /** Synthesize a REAL-WAV media table from a keyed corpus (round 11,
    * q105): one 650-frame mono 16-bit PCM WAV per row, SEGMENT-constant
    * samples (the 65 envelope segments, 10 frames each)
    * `a(s) = hex16(md5(doc_id ":" s)) % 16384` — the audio twin of
    * [[synthImageTable]]'s analytic-oracle trick: the payload goes through
    * the real RIFF walk → PCM parse → envelope hash while a flat SQL
    * oracle computes the expected hash from the formula without touching
    * a WAV byte. `groups = 0` (q105's config) keys segments on the doc id
    * itself — per-doc distinct envelopes, certifying the decode loop.
    * `groups > 0` (q113) keys them on `doc_id % groups` — planted
    * duplicate multiplicity for the near-dup stage, with a +2048 bump on
    * segments `s % 16 == 0` for `doc_id % 5 == 0` so bumped-vs-unbumped
    * same-template pairs sit a small nonzero hamming apart (the
    * synthImageTable +40-bump idiom: the bump perturbs at most the 7
    * envelope comparisons adjacent to a bumped segment, so the confirm
    * stage is exercised on both sides of the threshold).
    */
  def synthAudioTable(docs: DataFrame, idCol: String,
                      groups: Long = 0L): DataFrame = {
    require(groups >= 0, s"synthAudioTable: groups must be >= 0, got $groups")
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    docs.select(col(idCol).cast("long").as("doc_id"))
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val id = r.getLong(0)
          val tpl = if (groups == 0L) id else ((id % groups) + groups) % groups
          val bump = groups > 0L && id % 5 == 0
          val pcm = new Array[Short](650)
          var s = 0
          while (s < 65) {
            val d = md.digest(s"$tpl:$s".getBytes("UTF-8"))
            var a = (((d(0) & 0xFF) << 8) | (d(1) & 0xFF)) % 16384
            if (bump && s % 16 == 0) a += 2048
            var f = 0
            while (f < 10) { pcm(s * 10 + f) = a.toShort; f += 1 }
            s += 1
          }
          val payload = encodeWav(pcm, 8000, 1)
          Row(id, "audio", payload, payload.length.toLong)
        }
      }(enc)
  }

  /** Greyscale plane of a decodable image payload: PNG via
    * [[pngPixelBytes]] (depth-8 colorTypes 0/2/4/6; palette and sub-byte
    * depths are outside the envelope — indices aren't intensities), JPEG
    * via [[jpegPixelBytes]] (always RGB). Luma is the integer ITU-R 601
    * fold (299·R + 587·G + 114·B)/1000; grey(+alpha) takes the grey byte.
    */
  /** Returns (w, h, greyscale plane, format) — the format rides along so
    * the one header parse serves both decode and labeling (advisor r11:
    * imageHashes parsed the header twice per row in the corpus-scale hot
    * path just to recover the format string).
    */
  private[operators] def grayPlane(p: Array[Byte]): Option[(Int, Int, Array[Int], String)] =
    parseImageHeader(p) match {
      case Some((wL, hL, "png")) =>
        val depth = p(24) & 0xFF
        val colorType = p(25) & 0xFF
        if (depth != 8 || colorType == 3) return None
        val ch = colorType match { case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4 }
        pngPixelBytes(p).map { px =>
          val w = wL.toInt; val h = hL.toInt
          val g = new Array[Int](w * h)
          var i = 0
          while (i < w * h) {
            val o = i * ch
            g(i) = ch match {
              case 1 | 2 => px(o) & 0xFF
              case _ => (299 * (px(o) & 0xFF) + 587 * (px(o + 1) & 0xFF) +
                114 * (px(o + 2) & 0xFF)) / 1000
            }
            i += 1
          }
          (w, h, g, "png")
        }
      case Some((wL, hL, "jpeg")) =>
        jpegPixelBytes(p).map { px =>
          val w = wL.toInt; val h = hL.toInt
          val g = new Array[Int](w * h)
          var i = 0
          while (i < w * h) {
            val o = i * 3
            g(i) = (299 * (px(o) & 0xFF) + 587 * (px(o + 1) & 0xFF) +
              114 * (px(o + 2) & 0xFF)) / 1000
            i += 1
          }
          (w, h, g, "jpeg")
        }
      case _ => None
    }

  /** Perceptual difference hash (dHash) over a greyscale plane: box-average
    * into a 9×8 grid (integer cell boundaries `c·w/9`, `r·h/8`), then bit
    * `r·8+c` = 1 iff cell (r,c) is strictly brighter than cell (r,c+1).
    * The brightness comparison cross-multiplies sums by counts (cells can
    * differ in pixel count when 9∤w), so the whole hash is EXACT integer
    * arithmetic: deterministic, and invariant under exact k× box upsampling
    * (sums and counts both scale by k²) and under uniform brightness shift
    * away from clamp (gradients are preserved) — the two invariances
    * MultimodalHashSpec pins. None when the grid is undersampled (w<9 or
    * h<8: thumbnails have no stable gradient signal).
    */
  private[operators] def dHash64(gray: Array[Int], w: Int, h: Int): Option[Long] = {
    if (w < 9 || h < 8) return None
    val sums = Array.ofDim[Long](8, 9)
    val cnts = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val gr = y * 8 / h
      var x = 0
      while (x < w) {
        val gc = x * 9 / w
        sums(gr)(gc) += gray(y * w + x)
        cnts(gr)(gc) += 1L
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        // avg(r,c) > avg(r,c+1)  ⇔  sum·cnt' > sum'·cnt (counts positive)
        if (sums(r)(c) * cnts(r)(c + 1) > sums(r)(c + 1) * cnts(r)(c))
          hash |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    Some(hash)
  }

  /** Minimal WAV (RIFF/PCM) encoder, JDK-only — the fixture/synthesis
    * counterpart of [[wavPcmBytes]]: 16-bit signed little-endian PCM,
    * mono or interleaved multi-channel.
    */
  private[graft] def encodeWav(samples: Array[Short], sampleRate: Int,
                               channels: Int): Array[Byte] = {
    require(channels >= 1, s"encodeWav: channels >= 1, got $channels")
    require(samples.length % channels == 0,
      s"encodeWav: ${samples.length} samples not a whole number of $channels-channel frames")
    val dataLen = samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    out.put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
    out.putShort(1) // PCM
    out.putShort(channels.toShort)
    out.putInt(sampleRate)
    out.putInt(sampleRate * channels * 2) // byte rate
    out.putShort((channels * 2).toShort) // block align
    out.putShort(16) // bits per sample
    out.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(out.putShort)
    out.array()
  }

  /** 16-bit PCM frames of a WAV payload: `(channels, samples)` with
    * samples interleaved exactly as stored. None outside the envelope
    * (non-PCM audioFormat, bits ≠ 16, truncated data chunk) — the same
    * degrade-don't-throw contract as the image decoders.
    */
  private[operators] def wavPcm16(p: Array[Byte]): Option[(Int, Array[Short])] = {
    def u16le(i: Int): Int = (p(i) & 0xFF) | ((p(i + 1) & 0xFF) << 8)
    def tag(i: Int, s: String): Boolean =
      i + 3 < p.length && p(i) == s(0).toByte && p(i + 1) == s(1).toByte &&
        p(i + 2) == s(2).toByte && p(i + 3) == s(3).toByte
    if (p.length < 28 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    // locate fmt for audioFormat/channels/bits, then reuse the range-checked
    // data-chunk walk for the PCM bytes
    var i = 12L
    var fmt: Option[(Int, Int, Int)] = None
    while (fmt.isEmpty && i + 8 <= p.length) {
      val ii = i.toInt
      val size = ((p(ii + 4) & 0xFFL) | ((p(ii + 5) & 0xFFL) << 8) |
        ((p(ii + 6) & 0xFFL) << 16) | ((p(ii + 7) & 0xFFL) << 24))
      if (tag(ii, "fmt ")) {
        if (size < 16 || i + 8 + 16 > p.length) return None
        fmt = Some((u16le(ii + 8), u16le(ii + 10), u16le(ii + 22)))
      }
      i += 8L + size + (size & 1L)
    }
    fmt match {
      case Some((1, ch, 16)) if ch >= 1 =>
        wavPcmBytes(p).flatMap { data =>
          if (data.length % (2 * ch) != 0) None
          else {
            val s = new Array[Short](data.length / 2)
            var j = 0
            while (j < s.length) {
              s(j) = ((data(2 * j) & 0xFF) | (data(2 * j + 1) << 8)).toShort
              j += 1
            }
            Some((ch, s))
          }
        }
      case _ => None
    }
  }

  /** Perceptual audio hash over a 16-bit PCM signal: per-frame energy =
    * Σ|channel samples| (integer, gain-order preserving), box-summed into
    * 65 segments (integer boundaries `s·frames/65`), then bit `s` = 1 iff
    * segment `s` is strictly louder than segment `s+1` — the energy-envelope
    * analog of [[dHash64]], with the same cross-multiplied exact-integer
    * comparison, hence the same invariances: exact k× sample duplication
    * (time-stretch by repetition) and uniform integer gain away from clip
    * leave the hash unchanged. None below 65 frames (no stable envelope).
    */
  private[operators] def audioHash64(channels: Int,
                                     samples: Array[Short]): Option[Long] = {
    val frames = samples.length / channels
    if (frames < 65) return None
    val sums = new Array[Long](65)
    val cnts = new Array[Long](65)
    var f = 0
    while (f < frames) {
      val seg = (f.toLong * 65 / frames).toInt
      var c = 0
      var e = 0L
      while (c < channels) { e += math.abs(samples(f * channels + c).toLong); c += 1 }
      sums(seg) += e
      cnts(seg) += 1L
      f += 1
    }
    var hash = 0L
    var s = 0
    while (s < 64) {
      if (sums(s) * cnts(s + 1) > sums(s + 1) * cnts(s)) hash |= 1L << s
      s += 1
    }
    Some(hash)
  }

  /** Per-audio envelope-hash table: `(doc_id, ahash, sample_rate,
    * channels)` for every payload inside the 16-bit-PCM envelope
    * (undecodable rows dropped) — the audio twin of [[imageHashes]].
    */
  def audioHashes(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ahash", LongType, nullable = false),
      StructField("sample_rate", LongType, nullable = false),
      StructField("channels", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("doc_id", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val p = r.getAs[Array[Byte]]("payload")
          if (p == null) None
          else for {
            (sr, _) <- parseWavHeader(p)
            (ch, pcm) <- wavPcm16(p)
            hash <- audioHash64(ch, pcm)
          } yield Row(raw(r, "doc_id"), hash, sr, ch.toLong)
        }
      }(enc)
  }

  /** Banded hamming near-dup over ANY 64-bit perceptual-hash table —
    * the blocking kernel [[imageNearDups]] and audio near-dup share:
    * 4×16-bit exact-match bands propose, hamming confirms, the
    * oracle-checked count-window bucket cap bounds degenerate cliques.
    */
  def hashNearDups(hashes: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int, maxBucket: Int = 50): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 64,
      s"hashNearDups: 0 <= maxHamming <= 64, got $maxHamming")
    val banded = hashes.select(col(idCol).as("doc_id"), col(hashCol).as("h"),
        explode(array((0 until 4).map(b =>
          lit(b.toLong * 65536L) +
            shiftright(col(hashCol), b * 16).bitwiseAND(lit(0xFFFFL))): _*)).as("bk"))
      .withColumn("bc", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("bk"))))
      .filter(col("bc") <= maxBucket)
      .drop("bc")
    banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.h").as("ha"), col("b.h").as("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Per-image dHash table: `(doc_id, dhash, format)` for every payload
    * inside the decodable envelope (rows outside it are dropped, not
    * nulled — a near-dup pass has no use for unhashable rows). One
    * partition-local pass, decode and hash fused; the 100 TB path raises
    * partition count.
    */
  def imageHashes(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("dhash", LongType, nullable = false),
      StructField("format", StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("doc_id", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val p = r.getAs[Array[Byte]]("payload")
          if (p == null) None
          else for {
            (w, h, g, fmt) <- grayPlane(p)
            hash <- dHash64(g, w, h)
          } yield Row(raw(r, "doc_id"), hash, fmt)
        }
      }(enc)
  }

  /** Banded dHash near-dup: 4×16-bit exact-match bands propose, hamming
    * confirms — the q24/q96 blocking shape on image content. A band
    * containing > `maxBucket` images is dropped before the self-join (the
    * oracle-checked q96 cap idiom: the count window rides the join's own
    * `bk` exchange), bounding candidates at `4·2^16·C(maxBucket,2)` pairs
    * regardless of corpus size — monochrome/template images are exactly the
    * degenerate cliques the cap exists for.
    */
  def imageNearDups(media: DataFrame, maxHamming: Int,
                    maxBucket: Int = 50): DataFrame =
    hashNearDups(imageHashes(media), "doc_id", "dhash", maxHamming, maxBucket)

  /** Banded envelope-hash near-dup over audio content (q113): the
    * [[hashNearDups]] blocking kernel over [[audioHashes]] — the audio
    * rung of the per-modality near-dup set (image q104, video q110's
    * family). Same 100 TB posture: 4×16-bit band blocking proposes,
    * the oracle-checked bucket cap bounds degenerate cliques, exact
    * hamming confirms.
    */
  def audioNearDups(media: DataFrame, maxHamming: Int,
                    maxBucket: Int = 50): DataFrame =
    hashNearDups(audioHashes(media), "doc_id", "ahash", maxHamming, maxBucket)

  // ---- video containers (r12): the modality ladder's fourth rung ---------
  //
  // q32 checked image/audio CONTAINERS, q103/q104 image PIXELS, q105 audio
  // SAMPLES; this adds the video CONTAINER: a real ISO BMFF (MP4) box walk
  // over synthesized-but-structurally-real files. The codec payload (mdat)
  // stays an opaque stub per the brief — the container libraries aren't in
  // this environment and the Spark-side plumbing (schema, binary kernel,
  // range-checked walk, metadata extraction) is the real, tested part.

  /** The md5-derived parameters of doc `id`'s synthetic MP4 — ONE digest
    * (md5("id:vmeta")), four 32-bit slices, exactly reproducible by any
    * engine with md5 (the q103/q105 analytic-oracle move):
    * (timescale, durationTicks, nTracks, width, height).
    * slice0 serves both the timescale pick (%3) and the track count (%2);
    * width/height are 16-multiples so the 16.16 fixed-point encoding in
    * tkhd is exact.
    */
  private[graft] def synthVideoParams(id: Long): (Long, Long, Int, Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"$id:vmeta".getBytes("UTF-8"))
    def slice(i: Int): Long =
      ((d(4 * i) & 0xFFL) << 24) | ((d(4 * i + 1) & 0xFFL) << 16) |
        ((d(4 * i + 2) & 0xFFL) << 8) | (d(4 * i + 3) & 0xFFL)
    val timescale = (slice(0) % 3) match {
      case 0 => 600L; case 1 => 1000L; case _ => 90000L
    }
    (timescale, 1000L + slice(1) % 100000L, (1 + slice(0) % 2).toInt,
      16L * (4 + slice(2) % 100), 16L * (3 + slice(3) % 60))
  }

  /** Minimal-but-real MP4: ftyp (24 B) + moov(mvhd 108 B + nTracks ×
    * trak(tkhd 92 B)) + mdat (24 B) — version-0 full boxes at their
    * ISO/IEC 14496-12 sizes, big-endian throughout, total
    * 164 + 100·nTracks bytes (the byte-exact figure the oracle recomputes).
    * The codec layers below trak (mdia/minf/stbl) are deliberately absent:
    * metadata extraction needs mvhd/tkhd, and the brief's stub rule covers
    * the rest.
    */
  private[graft] def encodeMp4(id: Long): Array[Byte] = {
    val (timescale, dur, nTracks, width, height) = synthVideoParams(id)
    val out = java.nio.ByteBuffer.allocate(164 + 100 * nTracks)
    def box(size: Int, tag: String): Unit = {
      out.putInt(size); out.put(tag.getBytes("US-ASCII"))
    }
    box(24, "ftyp")
    out.put("isom".getBytes("US-ASCII")); out.putInt(0x200)
    out.put("isom".getBytes("US-ASCII")); out.put("mp41".getBytes("US-ASCII"))
    box(8 + 108 + 100 * nTracks, "moov")
    box(108, "mvhd")
    out.putInt(0)                       // version 0 + flags
    out.putInt(0); out.putInt(0)        // creation / modification
    out.putInt(timescale.toInt); out.putInt(dur.toInt)
    out.putInt(0x00010000)              // rate 1.0
    out.putShort(0x0100.toShort)        // volume 1.0
    out.putShort(0); out.putLong(0L)    // reserved
    val matrix = Array(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
    matrix.foreach(out.putInt)
    (0 until 6).foreach(_ => out.putInt(0)) // pre_defined
    out.putInt(nTracks + 1)             // next_track_ID
    var t = 0
    while (t < nTracks) {
      box(100, "trak")
      box(92, "tkhd")
      out.putInt(0x000007)              // version 0, flags enabled|in-movie|in-preview
      out.putInt(0); out.putInt(0)      // creation / modification
      out.putInt(t + 1)                 // track_ID
      out.putInt(0)                     // reserved
      out.putInt(dur.toInt)             // duration (movie timescale)
      out.putLong(0L)                   // reserved
      out.putShort(0); out.putShort(0)  // layer / alternate_group
      out.putShort(0); out.putShort(0)  // volume (video: 0) / reserved
      matrix.foreach(out.putInt)
      out.putInt((width << 16).toInt)   // 16.16 fixed
      out.putInt((height << 16).toInt)
      t += 1
    }
    box(24, "mdat")
    val md = java.security.MessageDigest.getInstance("MD5")
    out.put(md.digest(s"$id:vdata".getBytes("UTF-8")), 0, 16)
    out.array()
  }

  /** One synthesized MP4 per doc id — the video twin of
    * [[synthImageTable]]/[[synthAudioTable]] (mediaSchema rows, binary
    * kernel in mapPartitions).
    */
  def synthVideoTable(docs: DataFrame, idCol: String): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    docs.select(col(idCol).cast("long").as("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = encodeMp4(id)
          Row(id, "video", payload, payload.length.toLong)
        }
      }(enc)
  }

  /** Range-checked ISO BMFF walk (the [[parseWavHeader]] safety posture:
    * Long cursor, every declared size validated BEFORE advancing — a
    * malicious 2^31-ish box size degrades to None, never wraps into an
    * index error): top-level boxes until `moov`, then its children —
    * `mvhd` v0 for (timescale, duration), every `trak`'s first child
    * `tkhd` v0 for the FIRST track's 16.16 width/height, plus the track
    * count. Returns (timescale, durationTicks, nTracks, width, height).
    */
  private[graft] def parseMp4Meta(p: Array[Byte]): Option[(Long, Long, Long, Long, Long)] = {
    def u32(i: Int): Long =
      ((p(i) & 0xFFL) << 24) | ((p(i + 1) & 0xFFL) << 16) |
        ((p(i + 2) & 0xFFL) << 8) | (p(i + 3) & 0xFFL)
    def tag(i: Int, s: String): Boolean =
      i + 3 < p.length && p(i) == s(0).toByte && p(i + 1) == s(1).toByte &&
        p(i + 2) == s(2).toByte && p(i + 3) == s(3).toByte
    if (p.length < 8 || !tag(4, "ftyp")) return None
    var i = 0L
    var moov = -1L
    var moovEnd = -1L
    while (i + 8 <= p.length && moov < 0) {
      val size = u32(i.toInt)
      if (size < 8 || i + size > p.length) return None
      if (tag(i.toInt + 4, "moov")) { moov = i + 8; moovEnd = i + size }
      i += size
    }
    if (moov < 0) return None
    var timescale = -1L; var dur = -1L
    var nTracks = 0L; var width = -1L; var height = -1L
    var j = moov
    while (j + 8 <= moovEnd) {
      val jj = j.toInt
      val size = u32(jj)
      if (size < 8 || j + size > moovEnd) return None
      if (tag(jj + 4, "mvhd")) {
        // v0 mvhd is 108 bytes; other versions are outside the envelope
        if (size < 32 || (p(jj + 8) & 0xFF) != 0) return None
        timescale = u32(jj + 20); dur = u32(jj + 24)
      } else if (tag(jj + 4, "trak")) {
        nTracks += 1
        // first child must fit inside the trak box
        if (size >= 16 + 84 && tag(jj + 12, "tkhd") && (p(jj + 16) & 0xFF) == 0 &&
            u32(jj + 8) >= 92 && j + 8 + u32(jj + 8) <= j + size) {
          if (width < 0) {
            width = u32(jj + 8 + 84) >> 16
            height = u32(jj + 8 + 88) >> 16
          }
        } else return None
      }
      j += size
    }
    if (timescale < 1 || dur < 0 || nTracks < 1 || width < 0) None
    else Some((timescale, dur, nTracks, width, height))
  }

  // ---- video CONTENT (r13): the modality ladder's last rung ---------------
  //
  // q109 gave video CONTAINER parity; this decodes the PAYLOAD: MP4s whose
  // mdat carries real encoded frames, extracted through the ISO sample
  // table (stsz sizes + stco chunk offset — the actual MP4 frame-location
  // mechanism, not a codec sniff), each frame decoded through the EXISTING
  // production image path (grayPlane: the q103 PNG inflate→unfilter→luma
  // loop), per-frame dHash64, and a majority-vote temporal fold into one
  // 64-bit video signature. Frames are PNG (the lossless-codec stand-in
  // this repo's analytic-oracle precedent is built on — q103: a real
  // MJPEG's JPEG frames would need the fixture-pinned path instead, since
  // lossy decode output isn't flat-SQL-reproducible); the container
  // plumbing is byte-real either way.

  /** Frame count of template `tpl`'s synthetic video: 2 + hex16(md5(tpl
    * ":vframes")) % 5 ∈ [2, 6] — per TEMPLATE, not per doc, so
    * same-template docs carry identical frame sequences (the planted-dup
    * construction).
    */
  private[graft] def synthVideoFrameCount(tpl: Long): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$tpl:vframes".getBytes("UTF-8"))
    (2 + (((d(0) & 0xFF) << 8 | (d(1) & 0xFF)) % 5)).toInt
  }

  /** One frame's 18×8 greyscale pixels — [[synthImageTable]]'s
    * cell-constant construction with the frame index in the salt:
    * `v(tpl, f, gc, y) = hex16(md5(tpl ":" f ":" gc ":" y)) % 200`
    * (+40 on grid column 0 iff `bump` — the q103 near-dup knob, applied
    * to EVERY frame so bumped-vs-unbumped same-template videos sit at a
    * small temporal-hash hamming).
    */
  private def synthFramePixels(tpl: Long, f: Int, bump: Boolean): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val px = new Array[Byte](18 * 8)
    var y = 0
    while (y < 8) {
      var gc = 0
      while (gc < 9) {
        val d = md.digest(s"$tpl:$f:$gc:$y".getBytes("UTF-8"))
        var v = (((d(0) & 0xFF) << 8) | (d(1) & 0xFF)) % 200
        if (bump && gc == 0) v += 40
        px(y * 18 + gc * 2) = v.toByte
        px(y * 18 + gc * 2 + 1) = v.toByte
        gc += 1
      }
      y += 1
    }
    px
  }

  /** Minimal-but-real MP4 WITH a sample table and a frame-bearing mdat:
    * ftyp + moov(mvhd + trak(tkhd + mdia(mdhd + minf(stbl(stsd + stsz +
    * stco))))) + mdat(PNG frames, one chunk, contiguous samples) —
    * version-0 full boxes, big-endian, every size exact. `stsz` carries
    * the per-frame byte sizes and `stco` the single chunk's absolute file
    * offset, so a reader locates frames the way real MP4 readers do.
    */
  private[graft] def encodeMp4Frames(id: Long, groups: Long): Array[Byte] = {
    val tpl = ((id % groups) + groups) % groups
    val bump = id % 5 == 0
    val n = synthVideoFrameCount(tpl)
    val frames = (0 until n).map(f =>
      encodePng(synthFramePixels(tpl, f, bump), 18, 8, 1))
    val framesBytes = frames.map(_.length).sum
    val stsdSize = 32          // 8 hdr + 4 verflags + 4 count + 16 entry
    val stszSize = 20 + 4 * n  // 8 hdr + 4 verflags + 4 size0 + 4 count + 4n
    val stcoSize = 20          // 8 hdr + 4 verflags + 4 count + 4 offset
    val stblSize = 8 + stsdSize + stszSize + stcoSize
    val minfSize = 8 + stblSize
    val mdhdSize = 32
    val mdiaSize = 8 + mdhdSize + minfSize
    val trakSize = 8 + 92 + mdiaSize
    val moovSize = 8 + 108 + trakSize
    val total = 24 + moovSize + 8 + framesBytes
    val firstFrameOffset = 24 + moovSize + 8
    val out = java.nio.ByteBuffer.allocate(total)
    def box(size: Int, tag: String): Unit = {
      out.putInt(size); out.put(tag.getBytes("US-ASCII"))
    }
    box(24, "ftyp")
    out.put("isom".getBytes("US-ASCII")); out.putInt(0x200)
    out.put("isom".getBytes("US-ASCII")); out.put("mp41".getBytes("US-ASCII"))
    box(moovSize, "moov")
    box(108, "mvhd")
    out.putInt(0); out.putInt(0); out.putInt(0)
    out.putInt(1000)                    // timescale
    out.putInt(n * 100)                 // duration: 10 fps
    out.putInt(0x00010000); out.putShort(0x0100.toShort)
    out.putShort(0); out.putLong(0L)
    val matrix = Array(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
    matrix.foreach(out.putInt)
    (0 until 6).foreach(_ => out.putInt(0))
    out.putInt(2)                       // next_track_ID
    box(trakSize, "trak")
    box(92, "tkhd")
    out.putInt(0x000007); out.putInt(0); out.putInt(0)
    out.putInt(1); out.putInt(0)
    out.putInt(n * 100)
    out.putLong(0L)
    out.putShort(0); out.putShort(0); out.putShort(0); out.putShort(0)
    matrix.foreach(out.putInt)
    out.putInt(18 << 16); out.putInt(8 << 16)
    box(mdiaSize, "mdia")
    box(32, "mdhd")
    out.putInt(0); out.putInt(0); out.putInt(0)
    out.putInt(1000); out.putInt(n * 100)
    out.putShort(0x55C4.toShort)        // language 'und'
    out.putShort(0)
    box(minfSize, "minf")
    box(stblSize, "stbl")
    box(stsdSize, "stsd")
    out.putInt(0); out.putInt(1)
    out.putInt(16); out.put("png ".getBytes("US-ASCII"))
    (0 until 6).foreach(_ => out.put(0.toByte)) // sample-entry reserved
    out.putShort(1)                     // data_reference_index
    box(stszSize, "stsz")
    out.putInt(0); out.putInt(0)        // verflags; sample_size 0 = per-sample
    out.putInt(n)
    frames.foreach(fr => out.putInt(fr.length))
    box(stcoSize, "stco")
    out.putInt(0); out.putInt(1)
    out.putInt(firstFrameOffset)
    box(8 + framesBytes, "mdat")
    frames.foreach(fr => out.put(fr))
    out.array()
  }

  /** One frame-bearing MP4 per doc — the content twin of
    * [[synthVideoTable]]; `groups` scales planted-duplicate multiplicity
    * exactly like [[synthImageTable]].
    */
  def synthVideoContentTable(docs: DataFrame, idCol: String,
                             groups: Long): DataFrame = {
    require(groups >= 1, s"synthVideoContentTable: groups must be >= 1, got $groups")
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    docs.select(col(idCol).cast("long").as("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = encodeMp4Frames(id, groups)
          Row(id, "video", payload, payload.length.toLong)
        }
      }(enc)
  }

  /** Locate and slice the sample frames of a frame-bearing MP4 through
    * its SAMPLE TABLE — the real ISO mechanism ([[parseMp4Meta]]'s safety
    * posture throughout: Long cursor, every declared size validated
    * BEFORE advancing, truncation/2³¹-ish sizes degrade to None): walk
    * top-level to `moov` and `mdat`, descend moov → trak → mdia → minf →
    * stbl, read `stsz` (per-sample sizes) and `stco` (single-chunk
    * offset), then slice `mdat` at stco[0] by the stsz sizes, validating
    * every slice against the mdat payload bounds. Multi-chunk layouts
    * (stco count > 1) are outside this reader's envelope → None.
    */
  private[graft] def parseMp4Frames(p: Array[Byte]): Option[Seq[Array[Byte]]] = {
    def u32(i: Int): Long =
      ((p(i) & 0xFFL) << 24) | ((p(i + 1) & 0xFFL) << 16) |
        ((p(i + 2) & 0xFFL) << 8) | (p(i + 3) & 0xFFL)
    def tag(i: Int, s: String): Boolean =
      i + 3 < p.length && p(i) == s(0).toByte && p(i + 1) == s(1).toByte &&
        p(i + 2) == s(2).toByte && p(i + 3) == s(3).toByte
    if (p.length < 8 || !tag(4, "ftyp")) return None
    // top level: moov + mdat extents
    var i = 0L
    var moov = -1L; var moovEnd = -1L
    var mdat = -1L; var mdatEnd = -1L
    while (i + 8 <= p.length) {
      val size = u32(i.toInt)
      if (size < 8 || i + size > p.length) return None
      if (tag(i.toInt + 4, "moov")) { moov = i + 8; moovEnd = i + size }
      else if (tag(i.toInt + 4, "mdat")) { mdat = i + 8; mdatEnd = i + size }
      i += size
    }
    if (moov < 0 || mdat < 0) return None
    // descend one container level, returning the first child's extent
    def child(start: Long, end: Long, want: String): Option[(Long, Long)] = {
      var j = start
      while (j + 8 <= end) {
        val size = u32(j.toInt)
        if (size < 8 || j + size > end) return None
        if (tag(j.toInt + 4, want)) return Some((j + 8, j + size))
        j += size
      }
      None
    }
    for {
      (trakS, trakE) <- child(moov, moovEnd, "trak")
      (mdiaS, mdiaE) <- child(trakS, trakE, "mdia")
      (minfS, minfE) <- child(mdiaS, mdiaE, "minf")
      (stblS, stblE) <- child(minfS, minfE, "stbl")
      (stszS, stszE) <- child(stblS, stblE, "stsz")
      (stcoS, stcoE) <- child(stblS, stblE, "stco")
      frames <- {
        // stsz: verflags, sample_size (0 = per-sample table), count, sizes
        if (stszE - stszS < 12) None
        else {
          val fixedSize = u32(stszS.toInt + 4)
          val n = u32(stszS.toInt + 8)
          if (fixedSize != 0 || n < 1 || n > (stszE - stszS - 12) / 4) None
          else if (stcoE - stcoS < 12 || u32(stcoS.toInt + 4) != 1) None
          else {
            val off0 = u32(stcoS.toInt + 8)
            var off = off0
            val out = Seq.newBuilder[Array[Byte]]
            var k = 0L
            var ok = off >= mdat
            while (ok && k < n) {
              val sz = u32((stszS + 12 + 4 * k).toInt)
              if (sz < 1 || off + sz > mdatEnd) ok = false
              else {
                out += java.util.Arrays.copyOfRange(p, off.toInt, (off + sz).toInt)
                off += sz
                k += 1
              }
            }
            if (ok) Some(out.result()) else None
          }
        }
      }
    } yield frames
  }

  /** Per-video TEMPORAL signature over real decoded frames: frames located
    * through the sample table ([[parseMp4Frames]]), each decoded through
    * the production image path ([[grayPlane]] — the q103 PNG loop) and
    * dHashed, then folded by per-bit MAJORITY vote (bit b of the video
    * hash is set iff at least half the frames set it — 2·count ≥ n, ties
    * up) — robust to a minority of differing frames, exact integer
    * arithmetic end to end. Videos with ANY undecodable/unhashable frame
    * are dropped (the imageHashes posture: a near-dup pass has no use for
    * partially-hashed rows). Emits (doc_id, n_frames, vhash).
    */
  def videoContentHashes(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_frames", LongType, nullable = false),
      StructField("vhash", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("doc_id", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val p = r.getAs[Array[Byte]]("payload")
          if (p == null) None
          else for {
            frames <- parseMp4Frames(p)
            hashes <- {
              val hs = frames.flatMap(fr =>
                grayPlane(fr).flatMap { case (w, h, g, _) => dHash64(g, w, h) })
              if (hs.length == frames.length) Some(hs) else None
            }
          } yield {
            val n = hashes.length
            var vhash = 0L
            var b = 0
            while (b < 64) {
              var cnt = 0
              hashes.foreach(h => if (((h >>> b) & 1L) == 1L) cnt += 1)
              if (2 * cnt >= n) vhash |= 1L << b
              b += 1
            }
            Row(raw(r, "doc_id"), n.toLong, vhash)
          }
        }
      }(enc)
  }

  /** Banded temporal-hash near-dup over video content — [[hashNearDups]]
    * (the oracle-checked q104 kernel) on [[videoContentHashes]]' table:
    * video near-dup composes from the shared blocking for free.
    */
  def videoNearDups(media: DataFrame, maxHamming: Int,
                    maxBucket: Int = 50): DataFrame =
    hashNearDups(videoContentHashes(media).select(col("doc_id"), col("vhash")),
      "doc_id", "vhash", maxHamming, maxBucket)

  /** Per-video container metadata over real MP4 bytes — the q32 container
    * move on the fourth modality: one partition-local pass, rows outside
    * the decodable envelope are dropped (a metadata table has no use for
    * unparseable rows; the LOUD path is the decode query's stub column).
    * duration_ms = ticks·1000/timescale in exact integer arithmetic.
    */
  def videoMeta(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_bytes", LongType, nullable = false),
      StructField("timescale", LongType, nullable = false),
      StructField("duration_ms", LongType, nullable = false),
      StructField("n_tracks", LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("doc_id", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val p = r.getAs[Array[Byte]]("payload")
          if (p == null) None
          else parseMp4Meta(p).map { case (tsc, dur, n, w, h) =>
            Row(raw(r, "doc_id"), p.length.toLong, tsc, dur * 1000L / tsc,
              n, w, h)
          }
        }
      }(enc)
  }
}
