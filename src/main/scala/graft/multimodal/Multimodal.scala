package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal-column plumbing for training-data pipelines: media payloads
 * travel as opaque `BINARY` columns beside a typed metadata struct; decode /
 * feature-extraction / frame-sampling run batched per partition (the Scala
 * analog of `mapInPandas` — one task streams its rows through a reusable
 * kernel, never materializing the partition).
 *
 * Image decode is REAL (`javax.imageio`: PNG/JPEG/GIF/BMP → luminance
 * grid-pool features, [[imageFeatures]]). Audio decode is REAL
 * (`javax.sound.sampled`: WAV/AIFF/AU PCM → per-band RMS features,
 * [[audioFeatures]] — driver-checked bit-exactly via `multimodal_audio`).
 * Video codecs are not available on a bare JVM, so that kernel remains a
 * deterministic STUB (clearly marked) over raw bytes; the Spark-side
 * plumbing — schema, batch shape, partitioning, the feature column feeding
 * the ANN index — is real and tested either way. Swapping the stub for a
 * JNI/javacpp codec changes one function.
 */
object Multimodal {

  /**
   * Compiled featurize kernel — `(features, decoded)` in ONE codegen'd
   * projection. The previous `df.rdd.mapPartitions` + `createDataFrame`
   * spelling deserialized every row to external `Row` objects and
   * re-encoded them behind an opaque `ExistingRDD`, which (a) pays a
   * per-row boxing round-trip and (b) blanks out column pruning /
   * pushdown / whole-stage codegen for everything above it. The decode
   * kernels themselves ([[audioFeatures]] / [[imageFeatures]] /
   * [[videoFeatures]] + the stub fallback) are unchanged.
   * `kind`: "image" (a = grid), "audio" (a = bands), "video" (a = grid,
   * b = maxFrames).
   */
  private[multimodal] case class FeaturizePayload(
      child: org.apache.spark.sql.catalyst.expressions.Expression,
      kind: String, a: Int, b: Int = 0)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.util.GenericArrayData

    private def elemType: DataType =
      if (kind == "video") DoubleType else FloatType
    override def dataType: DataType = StructType(Seq(
      StructField("features", ArrayType(elemType, containsNull = false)),
      StructField("decoded", BooleanType)))
    override def nullable: Boolean = false
    override def prettyName: String = s"featurize_$kind"

    def kernel(p: Array[Byte]): InternalRow = {
      val (arr, decoded): (org.apache.spark.sql.catalyst.util.ArrayData, Boolean) =
        kind match {
          case "audio" =>
            val af = audioFeatures(p, a)
            val f = if (af != null) af
              else if (p == null) new Array[Float](a) else stubFeatures(p, a)
            (new GenericArrayData(f), af != null)
          case "image" =>
            val dims = a * a
            val img = imageFeatures(p, a)
            val f = if (img != null) img
              else if (p == null) new Array[Float](dims) else stubFeatures(p, dims)
            (new GenericArrayData(f), img != null)
          case "video" =>
            val dims = 2 * a * a
            val vf = videoFeatures(p, a, b)
            val f = if (vf != null) vf
              else if (p == null) new Array[Double](dims)
              else stubFeatures(p, dims).map(_.toDouble)
            (new GenericArrayData(f), vf != null)
          case other => throw new IllegalArgumentException(s"kind: $other")
        }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](arr, decoded))
    }

    override def eval(input: InternalRow): Any =
      kernel(child.eval(input).asInstanceOf[Array[Byte]])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("featurize", this,
        classOf[FeaturizePayload].getName)
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          $ref.kernel(${c.isNull} ? null : ((byte[]) ${c.value}));
        """, isNull = FalseLiteral)
    }

    override protected def withNewChildInternal(
        newChild: org.apache.spark.sql.catalyst.expressions.Expression) =
      copy(child = newChild)
  }

  /** One-projection featurize: struct column computed once (CollapseProject
   *  keeps the multi-referenced non-cheap alias in its own Project), fields
   *  extracted beside the original columns. Opaque pins the kernel HERE:
   *  callers filter on `decoded` / explode `features`, and without it
   *  pushdown + InferFiltersFromGenerate substitute the whole decode into
   *  a scan-level Filter (observed: the audio kernel 3× in one Filter plus
   *  1× in the Project — the §4.4 expensive-UDF duplication, which the old
   *  opaque ExistingRDD accidentally prevented). */
  private def featurized(df: DataFrame, payloadCol: String, kind: String,
      a: Int, b: Int = 0): DataFrame = {
    val f = graft.functions.mkCol(graft.expressions.Opaque(FeaturizePayload(
      graft.functions.mkExpr(col(payloadCol)), kind, a, b)))
    df.withColumn("__feat", f)
      .withColumn("features", col("__feat").getField("features"))
      .withColumn("decoded", col("__feat").getField("decoded"))
      .drop("__feat")
  }

  /** Metadata struct carried beside every payload column. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  def mediaSchema(idCol: String = "media_id"): StructType = StructType(Seq(
    StructField(idCol, LongType),
    StructField("payload", BinaryType),
    StructField("meta", mediaMetaSchema)))

  // ------------------------------------------------------- real image kernel

  /**
   * REAL image decode via `javax.imageio` (PNG/JPEG/GIF/BMP — the formats a
   * bare JVM ships): decode → luminance → `grid`×`grid` mean-pool → flat
   * feature vector in [0,1], row-major. The multimodal analog of the
   * reference's embedding columns: the output is shaped like an embedding
   * and feeds the ANN index directly (tested in MultimodalSpec).
   *
   * Returns null when the payload is not a decodable image — callers choose
   * the fallback (featurizeImages uses the byte-histogram stub so mixed
   * corpora never fail mid-job).
   */
  def imageFeatures(payload: Array[Byte], grid: Int = 4): Array[Float] = {
    if (payload == null || payload.length == 0) return null
    // NonFatal, not just IOException: ImageIO decoders throw runtime
    // exceptions (AIOOBE, NegativeArraySize, IAE) on malformed bodies whose
    // headers looked valid — any decode failure must mean "not an image"
    val img = try {
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    } catch { case scala.util.control.NonFatal(_) => null }
    if (img == null || img.getWidth == 0 || img.getHeight == 0) return null
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Double](grid * grid)
    val counts = new Array[Long](grid * grid)
    var y = 0
    while (y < h) {
      val gy = math.min(y * grid / h, grid - 1)
      var x = 0
      while (x < w) {
        val gx = math.min(x * grid / w, grid - 1)
        val rgb = img.getRGB(x, y)
        // ITU-R BT.601 luma from sRGB bytes, scaled to [0,1]
        val lum = (0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)) / 255.0
        val cell = gy * grid + gx
        sums(cell) += lum
        counts(cell) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(grid * grid)(c =>
      if (counts(c) == 0) 0.0f else (sums(c) / counts(c)).toFloat)
  }

  /** Batched per-partition image featurization: decode each payload with
   *  [[imageFeatures]]; non-image payloads fall back to the byte-histogram
   *  stub so a mixed binary corpus featurizes in one pass. Adds
   *  `features ARRAY<FLOAT>` (length grid*grid) and `decoded BOOLEAN`. */
  def featurizeImages(df: DataFrame, payloadCol: String, grid: Int = 4): DataFrame =
    featurized(df, payloadCol, "image", grid)

  // ------------------------------------------------------- real audio kernel

  /**
   * REAL audio decode via `javax.sound.sampled` (WAV/AIFF/AU — the formats a
   * bare JVM ships): decode → 16-bit PCM → mono mix → `bands` equal time
   * windows → RMS per window, as a flat feature vector in [0,1]. The audio
   * analog of [[imageFeatures]]' grid pool: shaped like an embedding, feeds
   * the ANN index directly.
   *
   * All accumulation is double-precision; for PCM input the decode is
   * bit-faithful, so a synthesized constant-amplitude band round-trips to
   * exactly `round(amp·32767)/32768` — which is what the `multimodal_audio`
   * DuckDB oracle recomputes analytically.
   *
   * Returns null when the payload is not decodable audio — callers choose
   * the fallback (featurizeAudio uses the byte-histogram stub).
   */
  /** Audio file readers resolved ONCE per JVM: `AudioSystem.
   *  getAudioInputStream` performs a globally SYNCHRONIZED provider-registry
   *  lookup (JDK13Services.getProviders) on every call, which serialized
   *  per-row decodes across all scan tasks — 32 threads queueing on one
   *  lock turned the audio featurize pass effectively single-threaded at
   *  scale. The providers themselves (WaveFileReader et al.) are stateless
   *  and thread-safe. */
  @transient private lazy val audioReaders: Array[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    // MIDI readers LAST: SoftMidiAudioFileReader funnels every probe
    // through MidiSystem.getSequence, which takes a global monitor —
    // thread dumps showed all 32 scan tasks BLOCKED on it when the
    // ServiceLoader happened to order it before the WAV reader. The
    // openAudio magic gate below keeps non-MIDI payloads away from it
    // entirely.
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala.toArray
      .sortBy(r => if (r.getClass.getName.contains("Midi")) 1 else 0)
  }

  /** Payloads the MIDI reader may see: Standard MIDI Files (`MThd`) only.
   *  RIFF-wrapped RMID (`RIFF`….`RMID`) is not routed there because the
   *  JDK's MIDI file reader rejects it anyway (MultimodalSpec pins both). */
  private def isMidiMagic(p: Array[Byte]): Boolean =
    p.length >= 4 && p(0) == 'M' && p(1) == 'T' && p(2) == 'h' && p(3) == 'd'
  @transient private lazy val audioConverters: Array[javax.sound.sampled.spi.FormatConversionProvider] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.FormatConversionProvider])
      .iterator().asScala.toArray
  }

  /** Open `payload` with the cached readers (AudioSystem fallback only if
   *  the ServiceLoader found none); null when no reader accepts it. */
  private def openAudio(payload: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    if (audioReaders.isEmpty)
      return try {
        javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
      } catch { case scala.util.control.NonFatal(_) => null }
    var i = 0
    while (i < audioReaders.length) {
      val r = audioReaders(i)
      val skip = r.getClass.getName.contains("Midi") && !isMidiMagic(payload)
      if (!skip) {
        try return r.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => }
      }
      i += 1
    }
    null
  }

  /** PCM conversion via the cached providers (same registry-lock story). */
  private def convertAudio(target: javax.sound.sampled.AudioFormat,
      in: javax.sound.sampled.AudioInputStream): javax.sound.sampled.AudioInputStream = {
    if (audioConverters.isEmpty)
      return javax.sound.sampled.AudioSystem.getAudioInputStream(target, in)
    var i = 0
    while (i < audioConverters.length) {
      if (audioConverters(i).isConversionSupported(target, in.getFormat))
        return audioConverters(i).getAudioInputStream(target, in)
      i += 1
    }
    throw new IllegalArgumentException(
      s"unsupported audio conversion to $target")
  }

  def audioFeatures(payload: Array[Byte], bands: Int = 8): Array[Float] = {
    if (payload == null || payload.length == 0) return null
    import javax.sound.sampled.AudioFormat
    val in = openAudio(payload)
    if (in == null) return null
    // The conversion stream wraps `in`; closing it closes both. Track it so
    // the finally releases whichever stream is outermost.
    var pcm: javax.sound.sampled.AudioInputStream = in
    try {
      val base = in.getFormat
      val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        base.getSampleRate, 16, base.getChannels, base.getChannels * 2,
        base.getSampleRate, false)
      if (!base.matches(target)) pcm = convertAudio(target, in)
      val bytes = pcm.readAllBytes()
      val ch = base.getChannels
      val nFrames = bytes.length / (2 * ch)
      if (nFrames == 0) return null
      val sums = new Array[Double](bands)
      val counts = new Array[Long](bands)
      var f = 0
      while (f < nFrames) {
        var acc = 0.0
        var c = 0
        while (c < ch) {
          val off = (f * ch + c) * 2
          val s = (((bytes(off + 1): Int) << 8) | (bytes(off) & 0xff)).toShort
          acc += s / 32768.0
          c += 1
        }
        val v = acc / ch
        val b = math.min(f * bands / nFrames, bands - 1)
        sums(b) += v * v
        counts(b) += 1L
        f += 1
      }
      Array.tabulate(bands)(b =>
        if (counts(b) == 0L) 0.0f else math.sqrt(sums(b) / counts(b)).toFloat)
    } catch { case scala.util.control.NonFatal(_) => null }
    finally pcm.close()
  }

  /** Batched per-partition audio featurization: decode each payload with
   *  [[audioFeatures]]; non-audio payloads fall back to the byte-histogram
   *  stub so a mixed binary corpus featurizes in one pass. Adds
   *  `features ARRAY<FLOAT>` (length `bands`) and `decoded BOOLEAN`. */
  def featurizeAudio(df: DataFrame, payloadCol: String, bands: Int = 8): DataFrame =
    featurized(df, payloadCol, "audio", bands)

  /** Deterministic 16-bit mono PCM WAV test signal: `bands` segments of
   *  `samplesPerBand` samples, segment `b` a square wave of constant
   *  amplitude `round(((seed·7 + b) % 16 + 1)/32 · 32767)` — so each band's
   *  RMS is analytically `round(amp·32767)/32768`, reproducible in plain
   *  SQL (the `multimodal_audio` oracle). Also the fixture MultimodalSpec
   *  decodes. */
  def synthWav(seed: Long, bands: Int, samplesPerBand: Int): Array[Byte] = {
    val n = bands * samplesPerBand
    val raw = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val b = i / samplesPerBand
      val amp = ((seed * 7 + b) % 16 + 1) / 32.0
      val mag = Math.round(amp * 32767.0).toInt
      val s = if (i % 2 == 0) mag else -mag
      raw(i * 2) = (s & 0xff).toByte
      raw(i * 2 + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    wavBytes(raw, sampleRateHz = 8000, channels = 1)
  }

  /** Canonical 44-byte RIFF/WAVE container around 16-bit PCM LE frames —
   *  byte-identical to `AudioSystem.write`'s PCM WAVE output (pinned in
   *  MultimodalSpec), without the JDK sound registry's global synchronized
   *  writer lookup, which serialized every per-row synthWav across tasks. */
  private def wavBytes(raw: Array[Byte], sampleRateHz: Int, channels: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + raw.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    bb.put("RIFF".getBytes(ascii)).putInt(36 + raw.length)
      .put("WAVE".getBytes(ascii))
      .put("fmt ".getBytes(ascii)).putInt(16)
      .putShort(1).putShort(channels.toShort) // PCM, channels
      .putInt(sampleRateHz).putInt(sampleRateHz * channels * 2)
      .putShort((channels * 2).toShort).putShort(16) // block align, bits
      .put("data".getBytes(ascii)).putInt(raw.length)
      .put(raw)
    bb.array()
  }

  // ------------------------------------------------------- real video kernel

  /** One decoded video frame: 8-bit RGB, row-major top-down. */
  final case class Frame(width: Int, height: Int, rgb: Array[Byte])

  /**
   * REAL video container decode: RIFF/AVI parsing (the format a bare JVM
   * can handle end to end). Frames arrive as `00db` uncompressed DIB
   * chunks (BI_RGB 24bpp, bottom-up — decoded exactly, which makes the
   * features bit-oracle-able) or `00dc` compressed chunks (MJPEG — each
   * frame decodes through the same `javax.imageio` path as
   * [[imageFeatures]]). Returns null when the payload is not a RIFF AVI
   * or no frame decodes.
   */
  def aviFrames(payload: Array[Byte], maxFrames: Int = 64): Seq[Frame] = {
    if (payload == null || payload.length < 12) return null
    def le32(o: Int): Int =
      (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8) |
        ((payload(o + 2) & 0xff) << 16) | ((payload(o + 3) & 0xff) << 24)
    def fourcc(o: Int): String =
      new String(payload, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return null
    var width = 0; var height = 0; var bitCount = 0; var compression = 0
    val frames = Seq.newBuilder[Frame]
    var nFrames = 0
    // walk chunks; recurse into LISTs (hdrl for strf, movi for frames)
    def walk(from: Int, to: Int): Unit = {
      var o = from
      while (o + 8 <= to && nFrames < maxFrames) {
        val id = fourcc(o); val size = le32(o + 4)
        if (size < 0 || o + 8 + size > to) return
        id match {
          case "LIST" => walk(o + 12, o + 8 + size)
          case "strf" if size >= 40 =>
            // BITMAPINFOHEADER: width @4, height @8, bitCount @14, compression @16
            width = le32(o + 8 + 4); height = le32(o + 8 + 8)
            bitCount = (payload(o + 8 + 14) & 0xff) | ((payload(o + 8 + 15) & 0xff) << 8)
            compression = le32(o + 8 + 16)
          case c if c.length == 4 && c.endsWith("db") &&
              compression == 0 && bitCount == 24 && width > 0 && height > 0 =>
            // uncompressed DIB, bottom-up BGR rows padded to 4 bytes
            val stride = ((width * 3 + 3) / 4) * 4
            if (size >= stride * height) {
              val rgb = new Array[Byte](width * height * 3)
              var y = 0
              while (y < height) {
                val src = o + 8 + (height - 1 - y) * stride
                var x = 0
                while (x < width) {
                  rgb((y * width + x) * 3) = payload(src + x * 3 + 2)     // R
                  rgb((y * width + x) * 3 + 1) = payload(src + x * 3 + 1) // G
                  rgb((y * width + x) * 3 + 2) = payload(src + x * 3)     // B
                  x += 1
                }
                y += 1
              }
              frames += Frame(width, height, rgb)
              nFrames += 1
            }
          case c if c.length == 4 && c.endsWith("dc") =>
            // compressed frame (MJPEG) — per-frame ImageIO decode
            val img = try {
              javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
                java.util.Arrays.copyOfRange(payload, o + 8, o + 8 + size)))
            } catch { case scala.util.control.NonFatal(_) => null }
            if (img != null && img.getWidth > 0 && img.getHeight > 0) {
              val w = img.getWidth; val h = img.getHeight
              val rgb = new Array[Byte](w * h * 3)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val p = img.getRGB(x, y)
                  rgb((y * w + x) * 3) = ((p >> 16) & 0xff).toByte
                  rgb((y * w + x) * 3 + 1) = ((p >> 8) & 0xff).toByte
                  rgb((y * w + x) * 3 + 2) = (p & 0xff).toByte
                  x += 1
                }
                y += 1
              }
              frames += Frame(w, h, rgb)
              nFrames += 1
            }
          case _ =>
        }
        o += 8 + size + (size & 1) // chunks are word-aligned
      }
    }
    walk(12, payload.length)
    val out = frames.result()
    if (out.isEmpty) null else out
  }

  /**
   * Video features from decoded frames: per grid cell, mean BRIGHTNESS over
   * all frames and mean MOTION energy (abs frame-to-frame cell-sum delta).
   * Output length 2·grid²: `[brightness(cell 0..g²-1), motion(cell ...)]`.
   *
   * Exactness contract (what makes `multimodal_video` bit-oracle-able):
   * every accumulation is an INTEGER sum of channel bytes; each feature is
   * ONE double division of that exact integer, so the value is independent
   * of summation order and reproducible in plain SQL.
   */
  def videoFeatures(payload: Array[Byte], grid: Int = 2,
      maxFrames: Int = 64): Array[Double] = {
    val fs0 = aviFrames(payload, maxFrames)
    if (fs0 == null) return null
    // Cell pixel counts are taken from frame 0, so frames of a different
    // size (legal for arbitrary MJPEG `00dc` chunks) would mis-bin and can
    // leave cellPix entries at 0 → NaN/Infinity features. Keep only frames
    // matching frame 0's dimensions.
    val fs = fs0.filter(f => f.width == fs0(0).width && f.height == fs0(0).height)
    val cells = grid * grid
    val n = fs.length
    // per-frame per-cell integer channel sums
    val cellSums = Array.ofDim[Long](n, cells)
    val cellPix = new Array[Long](cells)
    fs.zipWithIndex.foreach { case (f, fi) =>
      var y = 0
      while (y < f.height) {
        val gy = math.min(y * grid / f.height, grid - 1)
        var x = 0
        while (x < f.width) {
          val gx = math.min(x * grid / f.width, grid - 1)
          val c = gy * grid + gx
          val o = (y * f.width + x) * 3
          cellSums(fi)(c) += (f.rgb(o) & 0xff) + (f.rgb(o + 1) & 0xff) +
            (f.rgb(o + 2) & 0xff)
          if (fi == 0) cellPix(c) += 1
          x += 1
        }
        y += 1
      }
    }
    val out = new Array[Double](2 * cells)
    var c = 0
    while (c < cells) {
      var bSum = 0L
      var fi = 0
      while (fi < n) { bSum += cellSums(fi)(c); fi += 1 }
      // cellPix(c) == 0 when the frame is smaller than the grid (e.g. a
      // 1×1 frame with grid=2): emit 0.0 rather than NaN/Infinity.
      out(c) =
        if (cellPix(c) == 0L) 0.0 else bSum.toDouble / (3.0 * 255 * cellPix(c) * n)
      var mSum = 0L
      fi = 1
      while (fi < n) { mSum += math.abs(cellSums(fi)(c) - cellSums(fi - 1)(c)); fi += 1 }
      out(cells + c) =
        if (n < 2 || cellPix(c) == 0L) 0.0
        else mSum.toDouble / (3.0 * 255 * cellPix(c) * (n - 1))
      c += 1
    }
    out
  }

  /** Batched per-partition video featurization with the stub fallback for
   *  undecodable payloads. Adds `features ARRAY<DOUBLE>` (length 2·grid²)
   *  and `decoded BOOLEAN`. */
  def featurizeVideo(df: DataFrame, payloadCol: String, grid: Int = 2,
      maxFrames: Int = 64): DataFrame =
    featurized(df, payloadCol, "video", grid, maxFrames)

  /** Deterministic uncompressed-DIB AVI test signal: `frames` solid-gray
   *  8x8 frames, frame `f` at gray level `((seed·13 + f) % 32)·8` — so
   *  each cell's brightness/motion feature is an exact integer sum over
   *  known grays divided once (see [[videoFeatures]]' exactness contract),
   *  reproducible in plain SQL (the `multimodal_video` oracle). */
  def synthAvi(seed: Long, frames: Int): Array[Byte] = {
    val w = 8; val h = 8
    val stride = ((w * 3 + 3) / 4) * 4
    val frameBytes = stride * h
    val bb = java.nio.ByteBuffer.allocate(4096 + frames * (8 + frameBytes))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(s: String): Unit = bb.put(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    cc("RIFF"); val riffSizeAt = bb.position(); bb.putInt(0); cc("AVI ")
    // hdrl list: avih + strl(strh, strf)
    cc("LIST"); bb.putInt(4 + 8 + 56 + 8 + 4 + 8 + 56 + 8 + 40); cc("hdrl")
    cc("avih"); bb.putInt(56)
    bb.putInt(33333); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(frames); bb.putInt(0); bb.putInt(1); bb.putInt(0)
    bb.putInt(w); bb.putInt(h); bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    cc("LIST"); bb.putInt(4 + 8 + 56 + 8 + 40); cc("strl")
    cc("strh"); bb.putInt(56)
    cc("vids"); bb.putInt(0) // DIB
    bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(1); bb.putInt(30) // scale, rate
    bb.putInt(0); bb.putInt(frames); bb.putInt(frameBytes); bb.putInt(-1); bb.putInt(0)
    bb.putShort(0); bb.putShort(0); bb.putShort(w.toShort); bb.putShort(h.toShort)
    cc("strf"); bb.putInt(40)
    bb.putInt(40); bb.putInt(w); bb.putInt(h); bb.putShort(1); bb.putShort(24)
    bb.putInt(0) // BI_RGB
    bb.putInt(frameBytes); bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    // movi list with 00db frames
    cc("LIST"); bb.putInt(4 + frames * (8 + frameBytes)); cc("movi")
    var f = 0
    while (f < frames) {
      cc("00db"); bb.putInt(frameBytes)
      val gray = (((seed * 13 + f) % 32) * 8).toByte
      var i = 0
      while (i < frameBytes) { bb.put(gray); i += 1 }
      f += 1
    }
    val total = bb.position()
    bb.putInt(riffSizeAt, total - 8)
    java.util.Arrays.copyOf(bb.array(), total)
  }

  // ------------------------------------------------------------ stub kernels

  /** STUB decode: byte histogram over `bins` buckets (deterministic fake of
   *  "decode then pool features"). Real impl would decode the payload. */
  def byteHistogram(payload: Array[Byte], bins: Int): Array[Long] = {
    val h = new Array[Long](bins)
    var i = 0
    while (i < payload.length) {
      h((payload(i) & 0xff) % bins) += 1
      i += 1
    }
    h
  }

  /** STUB feature extraction: L1-normalized histogram as Array[Float] —
   *  shaped like an embedding so it can feed the ANN index. */
  def stubFeatures(payload: Array[Byte], dims: Int): Array[Float] = {
    val h = byteHistogram(payload, dims)
    val total = math.max(1L, payload.length.toLong)
    val out = new Array[Float](dims)
    var i = 0
    while (i < dims) { out(i) = h(i).toFloat / total; i += 1 }
    out
  }

  /** STUB frame sampling: every `stride`-th `frameSize`-byte slice (a real
   *  impl samples decoded video frames). */
  def sampleFrames(payload: Array[Byte], frameSize: Int, stride: Int): Seq[Array[Byte]] = {
    require(frameSize > 0 && stride > 0)
    val out = Seq.newBuilder[Array[Byte]]
    var off = 0
    var i = 0
    while (off + frameSize <= payload.length) {
      if (i % stride == 0) out += java.util.Arrays.copyOfRange(payload, off, off + frameSize)
      off += frameSize
      i += 1
    }
    out.result()
  }

  // ------------------------------------------------------ DataFrame surface

  /** Batched per-partition featurization (mapInPandas-shaped): adds a
   *  `features ARRAY<FLOAT>` column from a BINARY payload column. */
  def featurize(df: DataFrame, payloadCol: String, dims: Int = 16): DataFrame = {
    val schema = StructType(df.schema.fields :+
      StructField("features", ArrayType(FloatType, containsNull = false)))
    val idx = df.schema.fieldIndex(payloadCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](idx)
        val f = if (payload == null) new Array[Float](dims) else stubFeatures(payload, dims)
        Row.fromSeq(r.toSeq :+ f.toSeq)
      }
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Exploded frame table: (original columns..., frame_idx INT, frame
   *  BINARY). */
  def explodeFrames(df: DataFrame, payloadCol: String, frameSize: Int,
      stride: Int): DataFrame = {
    val framesUdf = udf((p: Array[Byte]) =>
      if (p == null) Seq.empty[Array[Byte]] else sampleFrames(p, frameSize, stride))
    df.withColumn("__frames", framesUdf(col(payloadCol)))
      .select(col("*"), posexplode(col("__frames")).as(Seq("frame_idx", "frame")))
      .drop("__frames")
  }

}
