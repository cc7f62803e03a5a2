package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) columns as opaque `binary` payloads with
  * typed metadata — the Spark-side plumbing is real (schemas, mapPartitions
  * batching, deterministic partition-local processing). All three media
  * kinds decode for REAL on pure JVM: IMAGES via [[imageIo]]
  * (`javax.imageio`: PNG/JPEG/GIF/BMP), AUDIO via [[wavPcm]] (RIFF/WAVE
  * PCM parser), VIDEO via [[mjpegAvi]] (RIFF/AVI Motion-JPEG parser —
  * frame extraction by chunk walk, per-frame JPEG decode via imageIo).
  * [[default]] remains the deterministic fake-header codec for synthetic
  * corpora and as the fallback for unrecognized payloads; codecs needing
  * native libraries (H.264 etc.) swap in behind the same [[Codec]]
  * signature and nothing else changes.
  *
  * Design for 100 TB: every operator here is a narrow mapPartitions (no
  * shuffle); payloads stay off-heap in Tungsten rows until the partition
  * iterator touches them; metadata columns are plain columns so predicate
  * pushdown (e.g. `width > 64`) prunes parquet row groups WITHOUT reading
  * payload bytes.
  */
object Multimodal {

  val decodedSchema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("pixels", BinaryType)))

  /** Pluggable codec boundary. `decode` parses a payload into (w, h, raw
    * pixels); `resize` rescales; `embed` produces a feature vector. */
  trait Codec extends Serializable {
    def decode(payload: Array[Byte]): (Int, Int, Array[Byte])
    def resize(pixels: Array[Byte], w: Int, h: Int, newW: Int, newH: Int): Array[Byte]
    def embedDim: Int
    def embed(pixels: Array[Byte]): Array[Float]
  }

  /** Deterministic fake codec: "decodes" by reading a 8-byte fake header
    * (w, h as big-endian ints) and treating the rest as pixels; resize =
    * deterministic stride sampling; embed = byte-histogram projection.
    * Platform-stable — results are identical across partitionings.
    */
  object default extends Codec {
    def decode(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      require(payload.length >= 8, "payload too short for header")
      val bb = java.nio.ByteBuffer.wrap(payload)
      val w = bb.getInt(); val h = bb.getInt()
      (w, h, payload.drop(8))
    }
    def resize(pixels: Array[Byte], w: Int, h: Int, newW: Int, newH: Int): Array[Byte] = {
      val out = new Array[Byte](math.max(newW * newH, 0))
      var i = 0
      while (i < out.length) {
        val src = ((i.toLong * math.max(pixels.length, 1)) / math.max(out.length, 1)).toInt
        out(i) = if (pixels.isEmpty) 0 else pixels(math.min(src, pixels.length - 1))
        i += 1
      }
      out
    }
    val embedDim = 16
    def embed(pixels: Array[Byte]): Array[Float] = {
      val v = new Array[Float](embedDim)
      var i = 0
      while (i < pixels.length) { v((pixels(i) & 0xff) % embedDim) += 1f; i += 1 }
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (n == 0) v else v.map(x => (x / n).toFloat)
    }
  }

  /** Decode cap: max pixels a single image/frame may declare (64M ≈ an
    * 8K×8K frame → 64 MB luma). A hostile JPEG/PNG header claiming
    * 60000×60000 would otherwise make ImageIO allocate gigabytes BEFORE
    * any post-decode check could run — on a 100-TB corpus of untrusted
    * blobs that is an executor OOM, not a null row. */
  val MaxDecodePixels: Long = 1L << 26

  /** ImageIO decode with the dimension cap enforced from the HEADER
    * (ImageReader.getWidth/getHeight read metadata only): the cap check
    * happens before any pixel allocation. Returns null when no installed
    * reader claims the payload (the mixed-corpus fallback contract). */
  private def readImageGuarded(payload: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    // createImageInputStream returns null when no ImageInputStream SPI
    // accepts the stream type — that is "no reader claims it", not an NPE.
    if (iis == null) return null
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return null
      val reader = readers.next()
      try {
        reader.setInput(iis, true, true)
        val w = reader.getWidth(0).toLong
        val h = reader.getHeight(0).toLong
        require(w > 0 && h > 0 && w * h <= MaxDecodePixels,
          s"image dimensions ${w}x$h exceed the $MaxDecodePixels-pixel decode cap")
        reader.read(0)
      } finally reader.dispose()
    } finally iis.close()
  }

  /** Row-major 8-bit luma of a decoded image (integer ITU-R BT.601:
    * (299r + 587g + 114b + 500)/1000 — all-integer, platform-stable).
    * Shared by [[imageIo]] and [[mjpegAvi]]'s strict per-frame path. */
  private def lumaOf(img: java.awt.image.BufferedImage): (Int, Int, Array[Byte]) = {
    val w = img.getWidth; val h = img.getHeight
    val px = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
        px(y * w + x) = ((r * 299 + g * 587 + b * 114 + 500) / 1000).toByte
        x += 1
      }
      y += 1
    }
    (w, h, px)
  }

  /** REAL image codec on pure-JVM `javax.imageio` — PNG/JPEG/GIF/BMP
    * decode with zero native dependencies. Decoded pixels are row-major
    * 8-bit luma via [[lumaOf]]. Non-image payloads fall
    * back to the stub's fake-header format, so mixed corpora (some rows
    * real images, some synthetic) flow through one codec. `resize` is
    * 2-D nearest-neighbor with integer index math; `embed` is the same
    * histogram projection as the stub (decode source doesn't change the
    * feature contract).
    */
  object imageIo extends Codec {
    def decode(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      val img = readImageGuarded(payload)
      if (img == null) default.decode(payload)
      else lumaOf(img)
    }
    def resize(pixels: Array[Byte], w: Int, h: Int, newW: Int, newH: Int): Array[Byte] = {
      if (newW <= 0 || newH <= 0 || w <= 0 || h <= 0 || pixels.length < w * h)
        return Array.emptyByteArray
      val out = new Array[Byte](newW * newH)
      var y = 0
      while (y < newH) {
        val sy = (y * h) / newH
        var x = 0
        while (x < newW) {
          out(y * newW + x) = pixels(sy * w + (x * w) / newW)
          x += 1
        }
        y += 1
      }
      out
    }
    val embedDim: Int = default.embedDim
    def embed(pixels: Array[Byte]): Array[Float] = default.embed(pixels)
  }

  /** REAL audio codec: a pure-JVM RIFF/WAVE PCM parser (public container
    * format — RIFF chunks, "fmt " + "data", little-endian; 8-bit unsigned
    * or 16-bit signed PCM). Audio maps onto the [[Codec]] contract the way
    * images do: `decode` returns (frames, channels, samples) where
    * `samples` is channel-major signed 8-bit — channel c's sample i at
    * `samples(c * frames + i)` — exactly a `channels`-row "image", so
    * `resize` (= nearest-neighbor resampling per channel) and the
    * histogram `embed` reuse the image implementations unchanged.
    * 16-bit samples keep their high byte; 8-bit (unsigned by spec) are
    * re-centered to signed. Non-RIFF payloads fall back to the stub's
    * fake-header format (mixed corpora, as with [[imageIo]]); RIFF
    * payloads that are not parseable PCM throw, which the mapPartitions
    * wrappers above turn into a null row, not a task failure.
    */
  object wavPcm extends Codec {
    def decode(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      val isRiff = payload.length >= 44 &&
        payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' &&
        payload(3) == 'F' && payload(8) == 'W' && payload(9) == 'A' &&
        payload(10) == 'V' && payload(11) == 'E'
      if (!isRiff) return default.decode(payload)
      val bb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var pos = 12
      var channels = 0; var bits = 0; var fmtSeen = false
      var dataOff = -1; var dataLen = 0
      while (pos + 8 <= payload.length && (dataOff < 0 || !fmtSeen)) {
        val id = new String(payload, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val size = bb.getInt(pos + 4)
        require(size >= 0, s"negative chunk size $size")
        if (id == "fmt ") {
          // the reads below reach pos+23 — a truncated fmt chunk must be
          // the loud parse error, not a raw buffer IndexOutOfBounds
          require(pos + 24 <= payload.length, s"truncated fmt chunk at $pos")
          val audioFormat = bb.getShort(pos + 8) & 0xffff
          require(audioFormat == 1, s"not integer PCM: format $audioFormat")
          channels = bb.getShort(pos + 10) & 0xffff
          bits = bb.getShort(pos + 22) & 0xffff
          require(bits == 8 || bits == 16, s"unsupported bit depth $bits")
          require(channels > 0, "zero channels")
          fmtSeen = true
        } else if (id == "data") {
          dataOff = pos + 8
          dataLen = math.min(size, payload.length - dataOff)
        }
        // LONG cursor advance, clamped to the payload end: a declared size
        // overrunning the payload (truncated tail — common in cut-off
        // streams; dataLen is already clamped by the min above) just ends
        // the walk, while a hostile near-Int.MaxValue size can no longer
        // wrap the int cursor negative and read out of bounds next round
        val next = pos.toLong + 8 + size + (size & 1) // word-aligned: odd → pad
        pos = if (next > payload.length) payload.length else next.toInt
      }
      require(fmtSeen, "no fmt chunk")
      require(dataOff >= 0, "no data chunk")
      val bytesPerSample = bits / 8
      val frames = dataLen / (bytesPerSample * channels)
      val out = new Array[Byte](frames * channels)
      var i = 0
      while (i < frames) {
        var c = 0
        while (c < channels) {
          val off = dataOff + (i * channels + c) * bytesPerSample
          out(c * frames + i) =
            if (bits == 8) ((payload(off) & 0xff) - 128).toByte // unsigned → signed
            else (bb.getShort(off) >> 8).toByte                 // 16-bit LE high byte
          c += 1
        }
        i += 1
      }
      (frames, channels, out)
    }
    def resize(pixels: Array[Byte], w: Int, h: Int, newW: Int, newH: Int): Array[Byte] =
      imageIo.resize(pixels, w, h, newW, newH)
    val embedDim: Int = default.embedDim
    def embed(pixels: Array[Byte]): Array[Float] = default.embed(pixels)
  }

  /** REAL video codec: a pure-JVM RIFF/AVI Motion-JPEG parser. AVI is the
    * same RIFF container as WAV ('RIFF' <size> 'AVI ' then chunks; 'LIST'
    * chunks nest, with their type FourCC in the first 4 payload bytes);
    * MJPEG stores every video frame as a COMPLETE JPEG image in a '##dc'
    * (compressed) or '##db' (uncompressed-flagged, still JPEG in MJPEG
    * files) chunk inside the 'movi' LIST. [[aviFrames]] walks the chunk
    * tree — skipping 'hdrl' stream headers and the 'idx1' index, which the
    * frames don't need — and each extracted frame decodes through
    * [[imageIo]] (JPEG via javax.imageio, zero native dependencies).
    *
    * `decode` maps video onto the [[Codec]] contract as a FILM STRIP:
    * (w, h·nFrames, luma planes concatenated frame-major) — frame f's
    * pixel (x, y) at `pixels((f*h + y)*w + x)` — exactly an nFrames-times-
    * taller image, the same trick [[wavPcm]] uses for channels, so
    * `resize` and `embed` reuse the image implementations unchanged.
    * Non-RIFF-AVI payloads fall back to the stub's fake-header format
    * (mixed corpora, as with [[imageIo]]/[[wavPcm]]); AVI payloads with no
    * decodable frame throw, which the mapPartitions wrappers above turn
    * into a null row, not a task failure. For per-frame rows (the
    * generator shape) use [[sampleAviFrames]] — its output frames are
    * plain JPEGs, so the image operators compose downstream.
    */
  object mjpegAvi extends Codec {
    def decode(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      if (!isAvi(payload)) return default.decode(payload)
      // STRICT per-frame decode: inside an AVI a non-JPEG chunk is corrupt
      // media, never the stub's fake-header format — falling back there
      // would pass garbage dims/pixels off as a successful decode
      val frames = aviFrames(payload).map { f =>
        val img = readImageGuarded(f)
        require(img != null, "undecodable MJPEG frame")
        lumaOf(img)
      }
      require(frames.nonEmpty, "AVI with no video frames")
      val (w, h, _) = frames.head
      require(frames.forall { case (fw, fh, _) => fw == w && fh == h },
        "MJPEG frames disagree on dimensions")
      val total = w.toLong * h * frames.size
      require(total <= Int.MaxValue,
        s"film strip exceeds array bounds: $w x $h x ${frames.size}")
      val strip = new Array[Byte](total.toInt)
      frames.zipWithIndex.foreach { case ((_, _, px), f) =>
        System.arraycopy(px, 0, strip, f * w * h, w * h)
      }
      (w, h * frames.size, strip)
    }
    def resize(pixels: Array[Byte], w: Int, h: Int, newW: Int, newH: Int): Array[Byte] =
      imageIo.resize(pixels, w, h, newW, newH)
    val embedDim: Int = default.embedDim
    def embed(pixels: Array[Byte]): Array[Float] = default.embed(pixels)
  }

  private def isAvi(p: Array[Byte]): Boolean =
    p.length >= 12 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'A' && p(9) == 'V' && p(10) == 'I' && p(11) == ' '

  /** Raw MJPEG frame payloads ('##dc'/'##db' chunks, stream order) from a
    * RIFF/AVI container. Chunk sizes are little-endian and word-aligned
    * (odd size → one pad byte), like every RIFF form. */
  def aviFrames(payload: Array[Byte]): IndexedSeq[Array[Byte]] = {
    require(isAvi(payload), "not a RIFF/AVI payload")
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walk(from: Int, to: Int, depth: Int): Unit = {
      // recursion bound: real AVIs nest 2-3 LISTs deep; a crafted payload
      // of thousands of nested LISTs (12 bytes each) would otherwise
      // StackOverflowError — an Error scala.util.Try does NOT catch, so
      // it would kill the task instead of nulling the row
      require(depth <= 32, s"RIFF LIST nesting deeper than 32 at offset $from")
      var pos = from
      while (pos + 8 <= to) {
        val id = new String(payload, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val size = bb.getInt(pos + 4)
        // bound against the ENCLOSING list's end, not just the payload: a
        // malformed nested LIST whose children overrun their parent must
        // fail loudly, not be walked twice as both child and sibling.
        // The sum is LONG: a hostile size near Int.MaxValue would wrap an
        // int sum negative and slip past the check
        require(size >= 0 && pos + 8 + size.toLong <= to,
          s"bad RIFF chunk size $size at offset $pos (container ends at $to)")
        if (id == "LIST") walk(pos + 12, pos + 8 + size, depth + 1) // type FourCC at pos+8
        else if (id(0).isDigit && id(1).isDigit &&
          (id.endsWith("dc") || id.endsWith("db")) && size > 0)
          out += java.util.Arrays.copyOfRange(payload, pos + 8, pos + 8 + size)
        pos += 8 + size + (size & 1)
      }
    }
    walk(12, payload.length, depth = 0)
    out.toIndexedSeq
  }

  /** Frame-sample REAL videos: every `stride`-th MJPEG frame of each AVI
    * payload as its own row `(idCols…, frame_idx, frame)`, where `frame`
    * is the complete extracted JPEG — directly consumable by the image
    * operators ([[decode]]/[[embed]]/[[resize]] with [[imageIo]]), so a
    * video pipeline is frame extraction composed with the image pipeline.
    * Non-AVI payloads yield no rows (a corrupt blob must not kill a
    * 100-TB job); use [[sampleFrames]] for the fixed-size synthetic
    * format. Narrow (no shuffle), generator-shaped like sampleFrames. */
  def sampleAviFrames(df: DataFrame, payloadCol: String, stride: Int,
                      idCols: Seq[String]): DataFrame = {
    val base = StructType(idCols.map(df.schema(_)))
    val outSchema = base.add("frame_idx", IntegerType).add("frame", BinaryType)
    val enc = RowEncoder.encoderFor(outSchema)
    val idIdx = idCols.map(df.schema.fieldIndex)
    val pIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val payload = r.getAs[Array[Byte]](pIdx)
        val frames =
          if (payload == null) IndexedSeq.empty
          else scala.util.Try(aviFrames(payload)).getOrElse(IndexedSeq.empty)
        (0 until frames.size by math.max(stride, 1)).iterator.map { f =>
          Row.fromSeq(idIdx.map(r.get) ++ Seq(f, frames(f)))
        }
      }
    }(enc)
  }

  /** Minimal 24-bit BMP writer — the encode twin of [[imageIo]]'s decode
    * path (BITMAPINFOHEADER, bottom-up row order, BGR byte order, rows
    * padded to 4-byte boundaries — the uncompressed layout every BMP
    * reader, including javax.imageio's, consumes). `rgb(x, y)` supplies
    * the TOP-DOWN image-coordinate pixel; channels are masked to 8 bits.
    * Used to author deterministic fixtures whose on-disk bytes an external
    * engine can slice directly (the x20 differential oracle). */
  def bmp24(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(w > 0 && h > 0, s"bmp dims ${w}x$h")
    val rowBytes = (w * 3 + 3) / 4 * 4
    val size = 54 + rowBytes * h
    val bb = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(size)
      .putInt(0).putInt(54)          // reserved, pixel-data offset
      .putInt(40)                    // BITMAPINFOHEADER
      .putInt(w).putInt(h)           // positive height → bottom-up
      .putShort(1).putShort(24)      // planes, bpp
      .putInt(0).putInt(rowBytes * h) // BI_RGB, image size
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var fy = 0
    while (fy < h) {            // file row fy holds image row h-1-fy
      val y = h - 1 - fy
      var x = 0
      while (x < w) {
        val (r, g, b) = rgb(x, y)
        bb.put((b & 0xff).toByte).put((g & 0xff).toByte).put((r & 0xff).toByte)
        x += 1
      }
      var pad = w * 3
      while (pad < rowBytes) { bb.put(0.toByte); pad += 1 }
      fy += 1
    }
    bb.array()
  }

  /** Canonical RIFF/WAVE PCM writer (44-byte header: RIFF + fmt(16) +
    * data) — the encode twin of [[wavPcm]]'s decode path. `sample(c, i)`
    * supplies the stored value for channel c, frame i: signed 16-bit when
    * `bits == 16` (little-endian), unsigned 8-bit when `bits == 8`.
    * Samples are interleaved frame-major per the WAV spec. */
  def wavPcmPayload(channels: Int, bits: Int, frames: Int,
                    sample: (Int, Int) => Int,
                    sampleRate: Int = 8000): Array[Byte] = {
    require(bits == 8 || bits == 16, s"bits $bits")
    require(channels > 0 && frames >= 0, s"$channels ch, $frames frames")
    val bps = bits / 8
    val dataLen = frames * channels * bps
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                         // integer PCM
      .putShort(channels.toShort)
      .putInt(sampleRate).putInt(sampleRate * channels * bps)
      .putShort((channels * bps).toShort)  // block align
      .putShort(bits.toShort)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < frames) {
      var c = 0
      while (c < channels) {
        val v = sample(c, i)
        if (bits == 8) bb.put((v & 0xff).toByte) else bb.putShort(v.toShort)
        c += 1
      }
      i += 1
    }
    bb.array()
  }

  /** Minimal RIFF/AVI writer — the encode twin of [[aviFrames]]' chunk
    * walk: RIFF('AVI ') wrapping a single LIST('movi') of '00db' frame
    * chunks (little-endian sizes, word-aligned with a pad byte after odd
    * sizes, per the RIFF form). Each frame payload is stored VERBATIM;
    * the x22 fixture convention stores complete uncompressed BMP files
    * ([[bmp24]]) so an external engine can slice every frame byte at a
    * fixed offset — [[mjpegAvi]]'s strict per-frame path decodes them
    * through the same readImageGuarded as any MJPEG frame, so the whole
    * RIFF-walk → frame-decode → film-strip pipeline goes under the
    * differential hash. */
  def aviPayload(frames: Seq[Array[Byte]]): Array[Byte] = {
    require(frames.nonEmpty, "AVI with no frames")
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val body = frames.map(f => 8 + f.length + (f.length & 1)).sum
    val moviSize = 4 + body
    val total = 12 + 8 + moviSize
    val bb = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(ascii)).putInt(total - 8).put("AVI ".getBytes(ascii))
    bb.put("LIST".getBytes(ascii)).putInt(moviSize).put("movi".getBytes(ascii))
    frames.foreach { f =>
      bb.put("00db".getBytes(ascii)).putInt(f.length).put(f)
      if ((f.length & 1) == 1) bb.put(0.toByte)
    }
    bb.array()
  }

  /** Build a fake payload (header + pixels) — test/fixture helper. */
  def fakePayload(w: Int, h: Int, seed: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + w * h)
    bb.putInt(w); bb.putInt(h)
    val r = new scala.util.Random(seed)
    val px = new Array[Byte](w * h); r.nextBytes(px)
    bb.put(px); bb.array()
  }

  /** Decode payloadCol → struct(width, height, pixels). Partition-local
    * batch iteration via mapPartitions (the Scala twin of mapInPandas:
    * per-partition setup cost — codec init — is paid once per batch).
    */
  def decode(df: DataFrame, payloadCol: String, outCol: String = "decoded",
             codec: Codec = default): DataFrame = {
    val spark = df.sparkSession
    val outSchema = df.schema.add(outCol, decodedSchema)
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      // codec initialized once per partition (mirrors heavyweight model
      // loading in the production implementation)
      val c = codec
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](idx)
        // malformed payloads (undecodable media) yield null, not a task
        // failure — at 100 TB a single corrupt blob must not kill the job
        val decoded =
          if (payload == null) null
          else scala.util.Try {
            val (w, h, px) = c.decode(payload)
            Row(w, h, px)
          }.getOrElse(null)
        Row.fromSeq(r.toSeq :+ decoded)
      }
    }(enc)
  }

  /** Feature-extract payloadCol → ArrayType(Float) embedding column; the
    * output slots directly into the fused-vector TextBlock/ANN paths. */
  def embed(df: DataFrame, payloadCol: String, outCol: String = "media_vec",
            codec: Codec = default): DataFrame = {
    val outSchema = df.schema.add(outCol, ArrayType(FloatType))
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      val c = codec
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](idx)
        val vec =
          if (payload == null) null
          else scala.util.Try {
            val (_, _, px) = c.decode(payload)
            c.embed(px).toSeq
          }.getOrElse(null)
        Row.fromSeq(r.toSeq :+ vec)
      }
    }(enc)
  }

  /** Resize: decode → stride-resample → re-encode payload with new header. */
  def resize(df: DataFrame, payloadCol: String, newW: Int, newH: Int,
             outCol: String = "resized", codec: Codec = default): DataFrame = {
    val outSchema = df.schema.add(outCol, BinaryType)
    val enc = RowEncoder.encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      val c = codec
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](idx)
        val out =
          if (payload == null) null
          else scala.util.Try {
            val (w, h, px) = c.decode(payload)
            val bb = java.nio.ByteBuffer.allocate(8 + newW * newH)
            bb.putInt(newW); bb.putInt(newH); bb.put(c.resize(px, w, h, newW, newH))
            bb.array()
          }.getOrElse(null)
        Row.fromSeq(r.toSeq :+ out)
      }
    }(enc)
  }

  /** Frame-sample a "video" payload (concatenated fixed-size frames after
    * the header): emit every `stride`-th frame as its own row — the one
    * row-expanding (generator-shaped) multimodal op. */
  def sampleFrames(df: DataFrame, payloadCol: String, frameBytes: Int,
                   stride: Int, idCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val base = StructType(idCols.map(df.schema(_)))
    val outSchema = base.add("frame_idx", IntegerType).add("frame", BinaryType)
    val enc = RowEncoder.encoderFor(outSchema)
    val idIdx = idCols.map(df.schema.fieldIndex)
    val pIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val payload = r.getAs[Array[Byte]](pIdx)
        if (payload == null || payload.length <= 8) Iterator.empty
        else {
          val body = payload.drop(8)
          val nFrames = body.length / math.max(frameBytes, 1)
          (0 until nFrames by stride).iterator.map { f =>
            Row.fromSeq(idIdx.map(r.get) ++
              Seq(f, body.slice(f * frameBytes, (f + 1) * frameBytes)))
          }
        }
      }
    }(enc)
  }
}
