package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads travel as
  * opaque `binary` columns next to a typed metadata struct; decode /
  * feature-extract run as partition-local batch transforms.
  *
  * IMAGE decoding is REAL: [[decodeDims]] parses PNG/JPEG/GIF/BMP
  * headers and [[ImageHistogramDecoder]] extracts pixel-derived
  * grayscale-histogram features, both through the JDK's
  * dependency-free `javax.imageio` (no codec libraries needed).
  * AUDIO decoding is REAL too: [[WavFeatureDecoder]] parses WAV/AIFF/AU
  * through `javax.sound.sampled` and emits PCM statistics (q133 gates
  * it against an independent analytic recomputation). VIDEO container
  * METADATA is REAL as well: [[videoMeta]] parses ISO-BMFF (MP4) and
  * EBML (WebM/Matroska) headers structurally for dims/duration/codec
  * (q177 gates it against an independent recomputation); only video
  * FRAME decode remains stubbed ([[StubDecoder]] — deterministic
  * md5-derived floats; no JDK video codec exists), and swapping in a
  * true decoder is replacing one [[Decoder]] instance. The Spark-side
  * contract — schema, batch iteration shape, partitioning behavior —
  * is real and tested throughout.
  *
  * Scale notes: decode is embarrassingly parallel (mapPartitions, no
  * shuffle); the binary column should be written to parquet with a
  * generous `spark.sql.files.maxPartitionBytes` *down*-adjustment, since
  * a 128 MB split of 5 MB media blobs is only ~25 rows — partition count,
  * not row count, is the parallelism lever for media tables.
  */
object Multimodal {

  /** Batch decoder contract: one call per partition, iterator-to-iterator
    * (never materializes a partition), mirroring the Pandas-UDF /
    * mapInPandas batch shape.
    */
  trait Decoder extends Serializable {
    /** bytes → fixed-width feature vector. */
    def decode(payload: Array[Byte]): Array[Float]
    def dim: Int
  }

  /** STUB decoder — deterministic fake: features are md5-derived floats.
    * Still the right tool for AUDIO/VIDEO payloads (no JDK codec
    * exists; a real deployment binds JNI/javacpp and nothing else in
    * the pipeline changes) and as the [[ImageHistogramDecoder]]
    * fallback for undecodable bytes. Its md5 formulation is also what
    * makes the q51 gate SQL-expressible end to end.
    */
  final class StubDecoder(val dim: Int = 8) extends Decoder {
    def decode(payload: Array[Byte]): Array[Float] = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(payload)
      Array.tabulate(dim)(i => ((d(i % d.length) & 0xff).toFloat) / 255.0f)
    }
  }

  /** REAL image feature decoder — pixel-derived, no stub: a `dim`-bin
    * grayscale histogram over the decoded image, normalized to
    * fractions summing to ~1. Luma is integer ITU-R BT.601
    * (`(299·R + 587·G + 114·B) / 1000`) and binning is exact integer
    * arithmetic (`lum · dim / 256`), so features are bit-deterministic
    * across JVMs. Decoding runs through the same dependency-free
    * `javax.imageio` path as [[decodeDims]] — PNG/JPEG/GIF/BMP out of
    * the box.
    *
    * Payloads no reader understands route to `fallback` (default: the
    * md5 [[StubDecoder]]) — corrupt media is data, not an error, at
    * corpus scale, and the fallback keeps the feature column total.
    * Pixels are fetched a SCANLINE at a time (one reused int buffer),
    * not per-pixel getRGB calls and not a whole-image copy — the batch
    * shape a 10-megapixel row must not break.
    */
  final class ImageHistogramDecoder(val dim: Int = 8,
      fallback: Decoder = null) extends Decoder {
    require(dim >= 1 && dim <= 256, "histogram needs 1..256 bins")
    private def fb: Decoder = if (fallback != null) fallback else new StubDecoder(dim)

    def decode(payload: Array[Byte]): Array[Float] = {
      val img = decodeImage(payload)
      if (img == null) fb.decode(payload)
      else {
        val w = img.getWidth; val h = img.getHeight
        if (w <= 0 || h <= 0) fb.decode(payload)
        else {
          val counts = new Array[Long](dim)
          val line = new Array[Int](w)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, line, 0, w)
            var x = 0
            while (x < w) {
              val rgb = line(x)
              val lum = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
                114 * (rgb & 0xff)) / 1000
              counts(lum * dim / 256) += 1
              x += 1
            }
            y += 1
          }
          val total = (w.toLong * h).toDouble
          Array.tabulate(dim)(i => (counts(i) / total).toFloat)
        }
      }
    }
  }

  /** REAL audio feature decoder — no stub: parses WAV/AIFF/AU through
    * the JDK's dependency-free `javax.sound.sampled` (the audio
    * analogue of the `javax.imageio` posture; only VIDEO still rides
    * the md5 [[StubDecoder]] — no JDK video codec exists). Features
    * are 8 deterministic channel-0 PCM statistics:
    *
    *   [n_samples, mean, mean_abs, zero_crossings, min, max,
    *    mean_square, sample_rate]
    *
    * — integer sums divided by the sample count, so for fixtures with
    * power-of-two length and bounded amplitude every feature is
    * float-EXACT and the q133 gate can recompute them analytically in
    * SQL from first principles (the strongest check a real decoder can
    * get: DuckDB never sees the bytes, only the waveform definition).
    * Zero crossings count strict sign flips (a 0 sample carries the
    * previous sign). Non-PCM/compressed payloads and parse failures
    * route to `fallback`, as [[ImageHistogramDecoder]] does.
    */
  final class WavFeatureDecoder(fallback: Decoder = null) extends Decoder {
    val dim = 8
    private def fb: Decoder = if (fallback != null) fallback else new StubDecoder(dim)

    def decode(payload: Array[Byte]): Array[Float] = {
      if (payload == null || payload.isEmpty) return fb.decode(payload)
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val fmt = ais.getFormat
          val bits = fmt.getSampleSizeInBits
          val ch = fmt.getChannels
          val enc = fmt.getEncoding
          val signed = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          val unsigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
          if ((!signed && !unsigned) || (bits != 8 && bits != 16) || ch < 1)
            return fb.decode(payload)
          val data = ais.readAllBytes()
          val bytesPerSample = bits / 8
          val frameBytes = bytesPerSample * ch
          val n = data.length / frameBytes
          if (n == 0) return fb.decode(payload)
          var i = 0
          var sum = 0L; var sumAbs = 0L; var sumSq = 0L
          var mn = Int.MaxValue; var mx = Int.MinValue
          var zc = 0L; var prevNeg = false
          while (i < n) {
            val off = i * frameBytes // channel 0 of the frame
            val s =
              if (bits == 8) {
                if (signed) data(off).toInt else (data(off) & 0xff) - 128
              } else {
                val lo = data(off) & 0xff
                val hi = data(off + 1) & 0xff
                val raw =
                  if (fmt.isBigEndian) (lo << 8) | hi else (hi << 8) | lo
                val sgn = if (signed) raw.toShort.toInt else raw - 32768
                sgn
              }
            sum += s; sumAbs += math.abs(s).toLong
            sumSq += s.toLong * s
            if (s < mn) mn = s
            if (s > mx) mx = s
            val neg = s < 0
            if (i > 0 && neg != prevNeg && s != 0) zc += 1
            if (s != 0) prevNeg = neg
            else if (i == 0) prevNeg = false
            i += 1
          }
          val nd = n.toDouble
          Array(
            n.toFloat,
            (sum / nd).toFloat,
            (sumAbs / nd).toFloat,
            zc.toFloat,
            mn.toFloat,
            mx.toFloat,
            (sumSq / nd).toFloat,
            fmt.getSampleRate)
        } finally ais.close()
      } catch { case _: Exception => fb.decode(payload) }
    }
  }

  /** Minimal RIFF/WAVE writer: 16-bit signed little-endian mono PCM —
    * the test-fixture and synthetic-gate generator ([[WavFeatureDecoder]]
    * decodes it back through the real `javax.sound.sampled` path).
    */
  def syntheticWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort)             // PCM
      .putShort(1.toShort)             // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)          // byte rate
      .putShort(2.toShort)             // block align
      .putShort(16.toShort)            // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** Deterministic per-id square wave: 1024 samples, half-period
    * `4 + (id mod 7)·2`, amplitude `1000 + (id mod 13)·100`, 16 kHz —
    * parameters chosen so every [[WavFeatureDecoder]] feature is
    * float-exact (n a power of two, A² < 2²⁴) and the q133 oracle can
    * regenerate the waveform in SQL. Exposed for the gate and specs.
    */
  def squareWaveSamples(id: Long): Array[Short] = {
    val h = (4 + (java.lang.Math.floorMod(id, 7L)) * 2).toInt
    val a = (1000 + java.lang.Math.floorMod(id, 13L) * 100).toInt
    Array.tabulate(1024)(i =>
      (if ((i / h) % 2 == 0) a else -a).toShort)
  }

  /** Media table of genuine WAV payloads, one per input id — the
    * partition-local generator feeding the q133 real-decode gate.
    */
  def syntheticWavTable(ids: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    ids.select(col(idCol).cast(LongType))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          org.apache.spark.sql.Row(id,
            syntheticWav(squareWaveSamples(id), 16000))
        }
      }(enc)
  }

  /** Full pixel decode via `javax.imageio`, or null for bytes no
    * installed reader accepts. Same memory-cached stream discipline as
    * [[decodeDims]] (never a temp file per row).
    */
  private[graft] def decodeImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    if (bytes == null || bytes.isEmpty) return null
    try {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      // ImageIO.read(ImageInputStream) closes the stream itself; a bare
      // finally-close would throw "IOException: closed" AFTER a
      // successful read and discard the image into the catch below.
      try javax.imageio.ImageIO.read(iis)
      finally try iis.close() catch { case _: java.io.IOException => () }
    } catch { case _: Exception => null }
  }

  /** Wrap a text/binary source table as a media table: payload bytes +
    * populated metadata struct (deterministic fake dims for the stub).
    */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String,
      kind: String): DataFrame = {
    val bin = col(payloadCol).cast(BinaryType)
    df.select(
      col(idCol).as("media_id"),
      bin.as("payload"),
      struct(
        lit(kind).as("kind"),
        lit(s"application/x-$kind").as("mime"),
        when(lit(kind) === "image", pmod(length(bin), lit(1024)) + 32)
          .otherwise(lit(null).cast(IntegerType)).as("width"),
        when(lit(kind) === "image", pmod(length(bin), lit(768)) + 32)
          .otherwise(lit(null).cast(IntegerType)).as("height"),
        when(lit(kind) === "audio", lit(16000))
          .otherwise(lit(null).cast(IntegerType)).as("sample_rate"),
        when(lit(kind) =!= "image", length(bin).cast(LongType) * 10)
          .otherwise(lit(null).cast(LongType)).as("duration_ms"),
        length(bin).cast(LongType).as("n_bytes")).as("meta"))
  }

  /** Partition-local batch decode: media table → (media_id, feature).
    * Iterator-to-iterator mapPartitions, the Scala analogue of
    * mapInPandas batches.
    */
  def decodeFeatures(media: DataFrame, decoder: Decoder): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("feature", ArrayType(FloatType))))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select(col("media_id").cast(LongType), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          org.apache.spark.sql.Row(id, decoder.decode(bytes).toSeq)
        }
      }(enc)
  }

  /** REAL image dimensions — no stub: header-only width/height via the
    * JDK's `javax.imageio` registry (PNG/JPEG/GIF/BMP out of the box,
    * zero added dependencies). `reader.getWidth(0)` parses the image
    * HEADER, not the pixel data, so the per-row cost is a few hundred
    * bytes of parsing regardless of payload size — the right shape for
    * a metadata-backfill pass over a 100 TB media table (the
    * feature-vector decode, which genuinely needs a codec, stays a
    * [[Decoder]]). Undecodable payloads yield NULL dims rather than
    * failing the batch — corrupt media is data, not an error, at
    * corpus scale.
    */
  private[graft] def decodeDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes == null || bytes.isEmpty) return None
    try {
      // MemoryCacheImageInputStream, NOT createImageInputStream: the
      // factory's default file cache would create+delete a temp file
      // PER ROW (and an unwritable executor tmpdir would turn every
      // row's dims NULL); the payload is already in memory.
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            Some((reader.getWidth(0), reader.getHeight(0)))
          } finally reader.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => None }
  }

  // ---- PNG metadata scrub (multimodal privacy screen) ------------------
  // Text comments, EXIF blobs, and timestamps embedded in PNG ancillary
  // chunks travel with the image through every copy — camera serials,
  // GPS tags, author names. The scrub walks the REAL container
  // structure (8-byte signature, then [len u32][type 4][data][crc 4]
  // chunks), drops the metadata chunk types, and copies every other
  // chunk verbatim — pixel data is untouched and no re-encode happens,
  // so the output is byte-identical to an image that never carried the
  // metadata. Non-PNG payloads pass through unchanged (corpus posture:
  // garbage in, same garbage out).

  private[graft] val PngMetaChunkTypes =
    Set("tEXt", "zTXt", "iTXt", "eXIf", "tIME")

  private val PngSig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    .map(_.toByte)

  private def isPng(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 8 &&
      java.util.Arrays.equals(bytes.take(8), PngSig)

  /** (scrubbed bytes, removed chunk count, removed byte count). */
  private[graft] def stripPngMeta(bytes: Array[Byte]): (Array[Byte], Int, Int) = {
    if (!isPng(bytes)) return (bytes, 0, 0)
    try {
      val out = new java.io.ByteArrayOutputStream(bytes.length)
      out.write(bytes, 0, 8)
      var off = 8; var removed = 0; var removedBytes = 0
      while (off + 8 <= bytes.length) {
        val len = be(bytes, off, 4).toInt
        val total = 12 + len // len + type + data + crc
        if (len < 0 || off + total > bytes.length)
          return (bytes, 0, 0) // torn container: do not rewrite
        val typ = new String(bytes, off + 4, 4,
          java.nio.charset.StandardCharsets.US_ASCII)
        if (PngMetaChunkTypes(typ)) { removed += 1; removedBytes += total }
        else out.write(bytes, off, total)
        off += total
      }
      if (off != bytes.length) (bytes, 0, 0) // trailing garbage: keep as-is
      else (out.toByteArray, removed, removedBytes)
    } catch { case _: Exception => (bytes, 0, 0) }
  }

  /** A genuine tEXt chunk (len + type + keyword\0text + CRC32 over
    * type+data) — fixture/ingest helper for planting metadata.
    */
  private[graft] def pngTextChunk(keyword: String, text: String): Array[Byte] = {
    val data = keyword.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
      Array(0.toByte) ++
      text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val typ = "tEXt".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val crc = new java.util.zip.CRC32
    crc.update(typ); crc.update(data)
    val b = java.nio.ByteBuffer.allocate(12 + data.length)
    b.putInt(data.length).put(typ).put(data).putInt(crc.getValue.toInt)
    b.array()
  }

  /** Insert chunks immediately before IEND (valid placement for every
    * metadata chunk type) — returns the input unchanged if it is not a
    * well-formed PNG.
    */
  private[graft] def withPngChunks(bytes: Array[Byte],
      chunks: Seq[Array[Byte]]): Array[Byte] = {
    if (!isPng(bytes)) return bytes
    var off = 8
    while (off + 8 <= bytes.length) {
      val len = be(bytes, off, 4).toInt
      // same torn-container guard as stripPngMeta: a negative or
      // overrunning length (corrupt file) must return the input
      // unchanged, not loop forever on a non-advancing offset
      if (len < 0 || off + 12 + len > bytes.length) return bytes
      val typ = new String(bytes, off + 4, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      if (typ == "IEND")
        return bytes.take(off) ++ chunks.flatten ++ bytes.drop(off)
      off += 12 + len
    }
    bytes
  }

  // ------------------------------------------------------------------
  // VIDEO metadata — header-only, dependency-free (the decodeDims
  // posture). No JDK video codec exists, so FRAME decode stays a
  // [[StubDecoder]]; but a video file's dims/duration/codec live in
  // its container header (ISO-BMFF `moov` boxes for MP4, EBML
  // Info/Tracks elements for WebM/Matroska), which a few hundred bytes
  // of structural parsing reads exactly — the right shape for a
  // metadata-backfill pass over a 100 TB media table. Both parsers are
  // bounds-checked walkers over the payload prefix: corrupt or foreign
  // bytes yield None (NULLs), never a failed batch.
  // ------------------------------------------------------------------

  /** Parsed container metadata: (container, codec, width, height,
    * duration_ms). Codec is the sample-entry fourcc for MP4 (avc1,
    * hev1, vp09, av01, …) and the CodecID string for WebM (V_VP9, …).
    */
  final case class VideoMeta(container: String, codec: String,
    width: Int, height: Int, durationMs: Long)

  private def be(b: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L; var i = 0
    while (i < len) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }
  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** ISO-BMFF (MP4/MOV) header walk. Boxes are [size:4][type:4][payload];
    * size 1 = 64-bit largesize follows, size 0 = to end of enclosure.
    * The video track is the trak whose mdia/hdlr handler is 'vide';
    * dims come from its tkhd (16.16 fixed point, last 8 payload
    * bytes), duration from mvhd (duration/timescale), codec from the
    * first stsd sample entry's fourcc.
    */
  private[graft] def mp4Meta(bytes: Array[Byte]): Option[VideoMeta] = {
    if (bytes == null || bytes.length < 16) return None
    try {
      // (payloadStart, payloadEnd) of the first `typ` box in [start,end)
      def findBox(start: Int, end: Int, typ: String): Option[(Int, Int)] = {
        var off = start
        while (off + 8 <= end) {
          val size0 = be(bytes, off, 4)
          val t = fourcc(bytes, off + 4)
          val (hdr, size) =
            if (size0 == 1 && off + 16 <= end) (16, be(bytes, off + 8, 8))
            else if (size0 == 0) (8, (end - off).toLong)
            else (8, size0)
          if (size < hdr || off + size > end) return None // corrupt
          if (t == typ) return Some((off + hdr, off + size.toInt))
          off += size.toInt
        }
        None
      }
      // every `trak` box in moov (several tracks: audio, video, hints)
      def allBoxes(start: Int, end: Int, typ: String): Seq[(Int, Int)] = {
        val out = Seq.newBuilder[(Int, Int)]
        var off = start
        while (off + 8 <= end) {
          val size0 = be(bytes, off, 4)
          val t = fourcc(bytes, off + 4)
          val (hdr, size) =
            if (size0 == 1 && off + 16 <= end) (16, be(bytes, off + 8, 8))
            else if (size0 == 0) (8, (end - off).toLong)
            else (8, size0)
          if (size < hdr || off + size > end) return out.result()
          if (t == typ) out += ((off + hdr, off + size.toInt))
          off += size.toInt
        }
        out.result()
      }
      if (fourcc(bytes, 4) != "ftyp") return None
      val (moovS, moovE) = findBox(0, bytes.length, "moov").getOrElse(return None)
      val (mvhdS, _) = findBox(moovS, moovE, "mvhd").getOrElse(return None)
      val mvhdVer = bytes(mvhdS) & 0xff
      val (timescale, duration) =
        if (mvhdVer == 1) (be(bytes, mvhdS + 20, 4), be(bytes, mvhdS + 24, 8))
        else (be(bytes, mvhdS + 12, 4), be(bytes, mvhdS + 16, 4))
      if (timescale == 0) return None
      val durMs = duration * 1000L / timescale
      allBoxes(moovS, moovE, "trak").view.flatMap { case (trakS, trakE) =>
        for {
          (mdiaS, mdiaE) <- findBox(trakS, trakE, "mdia")
          (hdlrS, _) <- findBox(mdiaS, mdiaE, "hdlr")
          if fourcc(bytes, hdlrS + 8) == "vide"
          (tkhdS, tkhdE) <- findBox(trakS, trakE, "tkhd")
          (minfS, minfE) <- findBox(mdiaS, mdiaE, "minf")
          (stblS, stblE) <- findBox(minfS, minfE, "stbl")
          (stsdS, _) <- findBox(stblS, stblE, "stsd")
        } yield VideoMeta("mp4",
          fourcc(bytes, stsdS + 12), // ver/flags(4) + count(4) + entrySize(4)
          (be(bytes, tkhdE - 8, 4) >> 16).toInt, // 16.16 fixed
          (be(bytes, tkhdE - 4, 4) >> 16).toInt,
          durMs)
      }.headOption
    } catch { case _: Exception => None }
  }

  /** EBML (WebM/Matroska) header walk. Elements are [id:vint][size:vint]
    * [payload]; master elements nest. Captures Info's TimecodeScale
    * (default 1,000,000 ns) and Duration (float, timecode-scale units),
    * and the first TrackEntry carrying a Video element (PixelWidth /
    * PixelHeight / CodecID).
    */
  private[graft] def webmMeta(bytes: Array[Byte]): Option[VideoMeta] = {
    if (bytes == null || bytes.length < 8) return None
    try {
      def vintLen(first: Int): Int =
        if ((first & 0x80) != 0) 1 else if ((first & 0x40) != 0) 2
        else if ((first & 0x20) != 0) 3 else if ((first & 0x10) != 0) 4
        else if ((first & 0x08) != 0) 5 else if ((first & 0x04) != 0) 6
        else if ((first & 0x02) != 0) 7 else if ((first & 0x01) != 0) 8
        else -1
      // (value, nextOffset); id keeps its marker bit (EBML convention)
      def readId(off: Int): (Long, Int) = {
        val n = vintLen(bytes(off) & 0xff)
        require(n >= 1 && n <= 4 && off + n <= bytes.length, "bad id")
        (be(bytes, off, n), off + n)
      }
      // Size vint of all ones (after the marker) means UNKNOWN SIZE —
      // "extends to the end of the enclosing element" per the EBML
      // spec. Live-muxed/streamed WebM writes Segment this way, so it
      // must parse, not abort. Returned as -1; walk() maps it to the
      // enclosure's end.
      def readSize(off: Int): (Long, Int) = {
        val n = vintLen(bytes(off) & 0xff)
        require(n >= 1 && off + n <= bytes.length, "bad size")
        val allOnes = (1L << (7 * n)) - 1
        val v = be(bytes, off, n) & allOnes // strip marker
        (if (v == allOnes) -1L else v, off + n)
      }
      val SEGMENT = 0x18538067L; val INFO = 0x1549A966L
      val TRACKS = 0x1654AE6BL; val TRACK_ENTRY = 0xAEL; val VIDEO = 0xE0L
      val TIMECODE_SCALE = 0x2AD7B1L; val DURATION = 0x4489L
      val PIXEL_W = 0xB0L; val PIXEL_H = 0xBAL; val CODEC_ID = 0x86L
      val masters = Set(SEGMENT, INFO, TRACKS, TRACK_ENTRY, VIDEO)
      var tcScale = 1000000L; var durScaled = -1.0
      var w = -1; var h = -1; var codec: String = null
      def walk(start: Int, end: Int): Unit = {
        var off = start
        while (off < end &&
            (w < 0 || h < 0 || durScaled < 0 || codec == null)) {
          val (id, o1) = readId(off)
          val (sz, o2) = readSize(o1)
          // unknown size (-1): the element runs to the end of its
          // enclosure. Only master elements may be unknown-size (the
          // spec restricts it to elements whose end is discoverable);
          // an unknown-size LEAF cannot be read and aborts the walk.
          require(sz >= 0 || masters(id), "unknown-size non-master element")
          val pEnd = if (sz < 0) end
            else { // Long arithmetic: a huge sz must not overflow to <0
              val e = o2.toLong + sz
              require(e <= end, "element overruns enclosure")
              e.toInt
            }
          if (masters(id)) walk(o2, pEnd)
          else if (id == TIMECODE_SCALE) tcScale = be(bytes, o2, sz.toInt)
          else if (id == DURATION) durScaled =
            if (sz == 4) java.lang.Float.intBitsToFloat(
              be(bytes, o2, 4).toInt).toDouble
            else java.lang.Double.longBitsToDouble(be(bytes, o2, 8))
          else if (id == PIXEL_W && w < 0) w = be(bytes, o2, sz.toInt).toInt
          else if (id == PIXEL_H && h < 0) h = be(bytes, o2, sz.toInt).toInt
          else if (id == CODEC_ID && codec == null) codec = new String(
            bytes, o2, sz.toInt, java.nio.charset.StandardCharsets.US_ASCII)
          off = pEnd
        }
      }
      val (hdrId, h1) = readId(0)
      if (hdrId != 0x1A45DFA3L) return None // not an EBML stream
      val (hdrSz, h2) = readSize(h1)
      if (hdrSz < 0) return None // EBML header itself must be sized
      walk(h2 + hdrSz.toInt, bytes.length)
      if (w < 0 || h < 0 || codec == null) None
      else Some(VideoMeta("webm", codec, w, h,
        if (durScaled < 0) -1L
        else math.round(durScaled * tcScale / 1e6)))
    } catch { case _: Exception => None }
  }

  /** Partition-local header scan: media table → (media_id, container,
    * codec, width, height, duration_ms), NULLs for payloads neither
    * container parser understands. Same iterator-to-iterator batch
    * shape as [[decodeFeatures]] — one pass, no shuffle, per-row cost is
    * header bytes regardless of payload size.
    */
  def videoMeta(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("container", StringType),
      StructField("codec", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select(col("media_id").cast(LongType), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          val m = mp4Meta(bytes).orElse(webmMeta(bytes))
          org.apache.spark.sql.Row(
            if (r.isNullAt(0)) null else Long.box(r.getLong(0)),
            m.map(_.container).orNull,
            m.map(_.codec).orNull,
            m.map(v => Int.box(v.width)).orNull,
            m.map(v => Int.box(v.height)).orNull,
            m.flatMap(v => if (v.durationMs < 0) None
              else Some(Long.box(v.durationMs))).orNull)
        }
      }(enc)
  }

  // ---- synthetic container writers (gate + spec fixtures) ------------

  /** Minimal genuine ISO-BMFF file: ftyp + moov{mvhd, trak{tkhd,
    * mdia{hdlr(vide), minf{stbl{stsd(codec)}}}}} + mdat. Timescale is
    * 1000, so the mvhd duration field IS milliseconds.
    */
  def syntheticMp4(width: Int, height: Int, durationMs: Long,
      codec: String): Array[Byte] = {
    require(codec.length == 4, s"fourcc must be 4 chars: $codec")
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(8 + payload.length)
      buf.putInt(8 + payload.length)
        .put(typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        .put(payload)
      buf.array()
    }
    def concat(bs: Array[Byte]*): Array[Byte] = bs.reduce(_ ++ _)
    val mvhd = { // version 0
      val b = java.nio.ByteBuffer.allocate(100)
      b.putInt(0)                       // version+flags
      b.putInt(0).putInt(0)             // creation, modification
      b.putInt(1000)                    // timescale: 1 unit = 1 ms
      b.putInt(durationMs.toInt)        // duration
      b.putInt(0x00010000).putShort(0x0100.toShort) // rate, volume
      b.position(b.position() + 10)     // reserved
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        .foreach(b.putInt)              // identity matrix
      b.position(b.position() + 24)     // predefined
      b.putInt(2)                       // next track id
      b.array()
    }
    val tkhd = { // version 0, flags: enabled|in-movie
      val b = java.nio.ByteBuffer.allocate(84)
      b.putInt(0x00000003)
      b.putInt(0).putInt(0)             // creation, modification
      b.putInt(1).putInt(0)             // track id, reserved
      b.putInt(durationMs.toInt)
      b.position(b.position() + 16)     // reserved, layer, group, volume+pad
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        .foreach(b.putInt)
      b.putInt(width << 16).putInt(height << 16) // 16.16 fixed
      b.array()
    }
    val hdlr = concat(
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 0), // ver/flags, predefined
      "vide".getBytes(java.nio.charset.StandardCharsets.US_ASCII),
      new Array[Byte](12),                 // reserved
      "VideoHandler"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII),
      Array[Byte](0))
    val stsd = {
      val entry = box(codec, new Array[Byte](8)) // reserved(6)+dataRefIdx(2)
      concat(Array[Byte](0, 0, 0, 0, 0, 0, 0, 1), entry) // ver/flags, count=1
    }
    val mdia = box("mdia", concat(box("hdlr", hdlr),
      box("minf", box("stbl", box("stsd", stsd)))))
    val moov = box("moov", concat(box("mvhd", mvhd),
      box("trak", concat(box("tkhd", tkhd), mdia))))
    concat(
      box("ftyp", concat(
        "isom".getBytes(java.nio.charset.StandardCharsets.US_ASCII),
        Array[Byte](0, 0, 0, 0),
        "isom".getBytes(java.nio.charset.StandardCharsets.US_ASCII))),
      moov,
      box("mdat", Array[Byte](0, 0, 0, 0)))
  }

  /** Minimal genuine WebM/EBML file: EBML header(DocType webm) +
    * Segment{Info{TimecodeScale 1e6, Duration}, Tracks{TrackEntry{
    * TrackType 1, CodecID, Video{PixelWidth, PixelHeight}}}}.
    */
  /** `unknownSegmentSize = true` writes the Segment with the all-ones
    * size vint (unknown size, "extends to end of stream") — the shape
    * every live-muxed/streamed WebM has, which [[webmMeta]] must parse.
    */
  def syntheticWebm(width: Int, height: Int, durationMs: Long,
      codecId: String, unknownSegmentSize: Boolean = false): Array[Byte] = {
    def idBytes(id: Long): Array[Byte] = {
      val n = if (id <= 0xffL) 1 else if (id <= 0xffffL) 2
        else if (id <= 0xffffffL) 3 else 4
      Array.tabulate(n)(i => ((id >> (8 * (n - 1 - i))) & 0xff).toByte)
    }
    // 8-byte size vint: 0x01 marker + 7 value bytes — always valid
    def sizeVint(sz: Long): Array[Byte] =
      Array[Byte](1) ++ Array.tabulate(7)(i =>
        ((sz >> (8 * (6 - i))) & 0xff).toByte)
    def el(id: Long, payload: Array[Byte]): Array[Byte] =
      idBytes(id) ++ sizeVint(payload.length.toLong) ++ payload
    def uint(v: Long): Array[Byte] = {
      val n = math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(v) + 7) / 8)
      Array.tabulate(n)(i => ((v >> (8 * (n - 1 - i))) & 0xff).toByte)
    }
    val ebmlHeader = el(0x1A45DFA3L, el(0x4282L,
      "webm".getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
    val info = el(0x1549A966L,
      el(0x2AD7B1L, uint(1000000L)) ++
        el(0x4489L, java.nio.ByteBuffer.allocate(8)
          .putDouble(durationMs.toDouble).array()))
    val video = el(0xE0L, el(0xB0L, uint(width.toLong)) ++
      el(0xBAL, uint(height.toLong)))
    val trackEntry = el(0xAEL, el(0x83L, uint(1L)) ++
      el(0x86L, codecId.getBytes(java.nio.charset.StandardCharsets.US_ASCII)) ++
      video)
    val tracks = el(0x1654AE6BL, trackEntry)
    val segment =
      if (unknownSegmentSize)
        idBytes(0x18538067L) ++
          (Array[Byte](1) ++ Array.fill(7)(0xff.toByte)) ++ info ++ tracks
      else el(0x18538067L, info ++ tracks)
    ebmlHeader ++ segment
  }

  /** Media table of genuine video-container payloads, one per id: ids
    * divisible by 5 become WebM (V_VP9), the rest MP4 with the codec
    * fourcc cycling avc1/hev1/vp09/av01 — dims/duration arithmetic on
    * the id, so the q177 oracle regenerates every field in SQL from
    * first principles while DuckDB never sees a container byte.
    */
  def syntheticVideoTable(ids: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val fourccs = Array("avc1", "hev1", "vp09", "av01")
    ids.select(col(idCol).cast(LongType))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          def m(k: Long) = java.lang.Math.floorMod(id, k)
          val w = (320 + m(16) * 8).toInt
          val h = (240 + m(9) * 8).toInt
          val dur = 1000 + m(977) * 37
          val payload =
            if (m(5) == 0) syntheticWebm(w, h, dur, "V_VP9")
            else syntheticMp4(w, h, dur, fourccs(m(4).toInt))
          org.apache.spark.sql.Row(id, payload)
        }
      }(enc)
  }
}
