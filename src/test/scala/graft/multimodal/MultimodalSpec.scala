package graft.multimodal

import org.apache.spark.sql.{SparkSession, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.index.Ann

class MultimodalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.ann.root", s"/tmp/graft-mm-indexes-${System.nanoTime()}")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def mediaDf() = {
    import spark.implicits._
    (0L until 50L).map { i =>
      val payload = Array.tabulate(200 + i.toInt)(j => ((i * 37 + j) % 251).toByte)
      (i, payload, s"img/$i")
    }.toDF("media_id", "payload", "uri")
  }

  test("byteHistogram + stubFeatures deterministic and normalized") {
    val p = Array[Byte](0, 1, 2, 3, 16, 17, 18, 19)
    val h = Multimodal.byteHistogram(p, 16)
    assert(h.sum == p.length)
    assert(h(0) == 2 && h(1) == 2 && h(2) == 2 && h(3) == 2)
    val f = Multimodal.stubFeatures(p, 16)
    assert(math.abs(f.sum - 1.0f) < 1e-6)
  }

  test("featurize adds ARRAY<FLOAT> features per row, batched per partition") {
    val out = Multimodal.featurize(mediaDf(), "payload", dims = 16)
    assert(out.schema("features").dataType.typeName == "array")
    val rows = out.select("media_id", "features").collect()
    assert(rows.length == 50)
    assert(rows.forall(_.getAs[scala.collection.Seq[Float]](1).length == 16))
    // deterministic: same payload → same features
    val again = Multimodal.featurize(mediaDf(), "payload", 16)
      .select("media_id", "features").collect().map(r =>
        r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1)).toMap
    rows.foreach(r => assert(again(r.getLong(0)) == r.getAs[scala.collection.Seq[Float]](1)))
  }

  test("features feed the ANN index end-to-end (media → embedding → search)") {
    val feats = Multimodal.featurize(mediaDf(), "payload", 16)
    Ann.buildIndex(feats, "features", "media_id", "mm_ix",
      Ann.BuildParams(engine = "flat"))
    val q = Multimodal.stubFeatures(
      Array.tabulate(210)(j => ((10 * 37 + j) % 251).toByte), 16)
    val hits = Ann.search(feats, "media_id", "mm_ix", q, 3).collect()
    assert(hits.head.getLong(0) == 10L, "identical payload features → top-1")
  }

  /** Render a real PNG in memory: left half dark, right half bright. */
  private def pngBytes(w: Int, h: Int, leftGray: Int, rightGray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = if (x < w / 2) leftGray else rightGray
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("imageFeatures decodes a real PNG and pools luminance per grid cell") {
    val png = pngBytes(64, 64, leftGray = 20, rightGray = 235)
    val f = Multimodal.imageFeatures(png, grid = 4)
    assert(f != null && f.length == 16)
    assert(f.forall(v => v >= 0f && v <= 1f))
    // left columns dark (~20/255), right columns bright (~235/255)
    for (row <- 0 until 4) {
      assert(f(row * 4) < 0.2f, s"left cell of row $row should be dark")
      assert(f(row * 4 + 3) > 0.8f, s"right cell of row $row should be bright")
    }
    // non-image bytes → null (caller falls back)
    assert(Multimodal.imageFeatures(Array[Byte](1, 2, 3, 4), 4) == null)
  }

  test("featurizeImages: real decode for images, stub fallback for blobs; " +
      "features build and search an ANN index") {
    import spark.implicits._
    val rows = (0 until 20).map { i =>
      val gray = 12 * i // 0 (black) .. 228 (near white)
      (i.toLong, pngBytes(32, 32, gray, gray))
    } :+ (99L, Array.tabulate(100)(j => (j % 251).toByte)) // non-image blob
    val df = rows.toDF("media_id", "payload")
    val out = Multimodal.featurizeImages(df, "payload", grid = 4)
    val got = out.select("media_id", "features", "decoded").collect()
      .map(r => r.getLong(0) -> (r.getAs[scala.collection.Seq[Float]](1), r.getBoolean(2)))
      .toMap
    assert(got(99L)._2 == false, "blob must report decoded=false")
    assert((0 until 20).forall(i => got(i.toLong)._2), "all PNGs must decode")
    // brightness ordering survives decode+pool: darker image → smaller mean
    val mean0 = got(0L)._1.sum / 16; val mean19 = got(19L)._1.sum / 16
    assert(mean0 < 0.1f && mean19 > 0.8f)

    // the decoded feature column is a real embedding: index and search it
    Ann.buildIndex(out, "features", "media_id", "mm_img_ix",
      Ann.BuildParams(engine = "diskann", numShards = 1))
    val probe = Multimodal.imageFeatures(pngBytes(32, 32, 120, 120), 4)
    val hits = Ann.search(out, "media_id", "mm_img_ix", probe, 1,
      searchComplexity = 64).collect()
    assert(hits.head.getLong(0) == 10L,
      "gray level 120 probe should match image 10 (gray 120)")
  }

  test("audioFeatures decodes a real WAV; band RMS matches the analytic value") {
    // constant-amplitude square wave per band -> RMS == round(amp*32767)/32768
    val bands = 4
    val wav = Multimodal.synthWav(seed = 5L, bands, samplesPerBand = 64)
    val got = Multimodal.audioFeatures(wav, bands)
    assert(got != null && got.length == bands)
    val expect = (0 until bands).map { b =>
      val amp = ((5L * 7 + b) % 16 + 1) / 32.0
      (Math.round(amp * 32767.0) / 32768.0).toFloat
    }
    assert(got.toSeq == expect, s"got ${got.toSeq} expected $expect")
    // not-audio payloads return null from the kernel
    assert(Multimodal.audioFeatures("not a wav".getBytes, bands) == null)
    assert(Multimodal.audioFeatures(Array.emptyByteArray, bands) == null)
  }

  test("MIDI: a Standard MIDI File decodes; its RIFF-wrapped RMID form does not") {
    import java.io.ByteArrayInputStream
    import javax.sound.midi.{InvalidMidiDataException, MidiSystem}
    // one track: note on, note off a beat later, end of track
    val track = Array[Byte](0, 0x90.toByte, 60, 100, 0x60, 0x80.toByte, 60, 0,
      0, 0xff.toByte, 0x2f, 0)
    val smf = java.nio.ByteBuffer.allocate(22 + track.length)
      .put("MThd".getBytes).putInt(6).putShort(0).putShort(1).putShort(96)
      .put("MTrk".getBytes).putInt(track.length).put(track).array()
    // RMID: a little-endian RIFF container holding the SMF as its data chunk
    val rmid = java.nio.ByteBuffer.allocate(20 + smf.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes).putInt(12 + smf.length).put("RMID".getBytes)
      .put("data".getBytes).putInt(smf.length).put(smf).array()
    assert(MidiSystem.getSequence(new ByteArrayInputStream(smf)).getTracks.length == 1)
    val got = Multimodal.audioFeatures(smf, 4)
    assert(got != null && got.length == 4, "SMF must render through the MIDI reader")
    // the JDK's MIDI reader rejects RMID, so only SMF payloads route to it
    intercept[InvalidMidiDataException](
      MidiSystem.getSequence(new ByteArrayInputStream(rmid)))
    assert(Multimodal.audioFeatures(rmid, 4) == null)
  }

  test("synthWav container is byte-identical to AudioSystem.write WAVE output") {
    import javax.sound.sampled.{AudioSystem, AudioFileFormat}
    for (seed <- Seq(0L, 1L, 7L, 12345L)) {
      val got = Multimodal.synthWav(seed, 4, 64)
      // round-trip through the JDK's own reader+writer: if our hand-rolled
      // 44-byte RIFF header is canonical, re-writing the decoded stream
      // reproduces the same bytes
      val ais = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(got))
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
      assert(java.util.Arrays.equals(got, out.toByteArray),
        s"seed=$seed: hand-rolled WAV differs from AudioSystem.write")
    }
  }

  test("featurizeAudio: real decode for WAVs, stub fallback for blobs") {
    import spark.implicits._
    val rows = (0 until 8).map(i =>
      (i.toLong, Multimodal.synthWav(i.toLong, 4, 64))) :+
      (99L, Array.tabulate(64)(j => (j % 251).toByte))
    val df = rows.toDF("media_id", "payload").repartition(3)
    val out = Multimodal.featurizeAudio(df, "payload", bands = 4)
    val got = out.select("media_id", "features", "decoded").collect()
      .map(r => r.getLong(0) -> (r.getAs[scala.collection.Seq[Float]](1), r.getBoolean(2)))
      .toMap
    assert(got(99L)._2 == false, "blob must report decoded=false")
    assert((0 until 8).forall(i => got(i.toLong)._2), "all WAVs must decode")
    assert(got(3L)._1 == Multimodal.audioFeatures(
      Multimodal.synthWav(3L, 4, 64), 4).toSeq)
  }

  test("aviFrames + videoFeatures: real RIFF parse, exact DIB decode, " +
      "analytic brightness/motion") {
    val frames = 8
    val avi = Multimodal.synthAvi(seed = 5L, frames)
    val fs = Multimodal.aviFrames(avi)
    assert(fs != null && fs.length == frames)
    assert(fs.forall(f => f.width == 8 && f.height == 8))
    // every pixel of frame f is solid gray ((5*13+f) % 32)*8
    fs.zipWithIndex.foreach { case (f, fi) =>
      val g = (((5L * 13 + fi) % 32) * 8).toByte
      assert(f.rgb.forall(_ == g), s"frame $fi not solid gray $g")
    }
    val got = Multimodal.videoFeatures(avi, grid = 2, maxFrames = frames)
    val grays = (0 until frames).map(f => ((5L * 13 + f) % 32) * 8)
    val expB = grays.sum * 48 / (3.0 * 255 * 16 * 8)
    val expM = grays.sliding(2).map(p => math.abs(p(1) - p(0))).sum * 48 /
      (3.0 * 255 * 16 * 7)
    assert(got.length == 8)
    assert((0 until 4).forall(c => got(c) == expB), s"brightness ${got.toSeq}")
    assert((4 until 8).forall(c => got(c) == expM), s"motion ${got.toSeq}")
    // not-video payloads return null from the kernel
    assert(Multimodal.aviFrames("not an avi at all".getBytes) == null)
    assert(Multimodal.videoFeatures(Array.emptyByteArray) == null)
  }

  test("aviFrames decodes MJPEG (00dc) chunks through ImageIO") {
    // minimal RIFF/AVI: header + movi LIST holding two JPEG frames
    def jpeg(gray: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (gray << 16) | (gray << 8) | gray
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val f1 = jpeg(30); val f2 = jpeg(220)
    def pad(n: Int) = n + (n & 1)
    val moviSize = 4 + (8 + pad(f1.length)) + (8 + pad(f2.length))
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + moviSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    cc("RIFF"); bb.putInt(4 + 8 + moviSize); cc("AVI ")
    cc("LIST"); bb.putInt(moviSize); cc("movi")
    for (f <- Seq(f1, f2)) {
      cc("00dc"); bb.putInt(f.length); bb.put(f)
      if ((f.length & 1) == 1) bb.put(0.toByte)
    }
    val avi = java.util.Arrays.copyOf(bb.array(), bb.position())
    val fs = Multimodal.aviFrames(avi)
    assert(fs != null && fs.length == 2)
    // JPEG is lossy: assert brightness ORDERING, not exact values
    def mean(f: Multimodal.Frame): Double =
      f.rgb.map(_ & 0xff).sum.toDouble / f.rgb.length
    assert(mean(fs(0)) < 80 && mean(fs(1)) > 170,
      s"decoded means ${mean(fs(0))}, ${mean(fs(1))}")
  }

  test("featurizeVideo: real decode for AVIs, stub fallback for blobs") {
    import spark.implicits._
    val rows = (0 until 6).map(i => (i.toLong, Multimodal.synthAvi(i.toLong, 8))) :+
      (99L, Array.tabulate(64)(j => (j % 251).toByte))
    val df = rows.toDF("media_id", "payload").repartition(3)
    val out = Multimodal.featurizeVideo(df, "payload", grid = 2, maxFrames = 8)
    val got = out.select("media_id", "features", "decoded").collect()
      .map(r => r.getLong(0) -> (r.getAs[scala.collection.Seq[Double]](1), r.getBoolean(2)))
      .toMap
    assert(got(99L)._2 == false, "blob must report decoded=false")
    assert((0 until 6).forall(i => got(i.toLong)._2), "all AVIs must decode")
    assert(got(4L)._1 == Multimodal.videoFeatures(
      Multimodal.synthAvi(4L, 8), 2, 8).toSeq)
  }

  test("explodeFrames: stride sampling with frame index") {
    val df = mediaDf().where(col("media_id") === 0L)
    val frames = Multimodal.explodeFrames(df, "payload", frameSize = 50, stride = 2)
      .select("media_id", "frame_idx", "frame").collect()
    // payload length 200 → 4 slices of 50, stride 2 → slices 0 and 2
    assert(frames.length == 2)
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 1))
    assert(frames.forall(_.getAs[Array[Byte]](2).length == 50))
  }

  test("media schema round-trips through parquet with metadata struct") {
    import spark.implicits._
    val rows = java.util.Arrays.asList(
      Row(1L, Array[Byte](1, 2, 3), Row("png", 64, 64, 0L)),
      Row(2L, Array[Byte](4, 5), Row("wav", 0, 0, 1500L)))
    val df = spark.createDataFrame(rows, Multimodal.mediaSchema())
    val p = s"/tmp/graft-mm-parquet-${System.nanoTime()}"
    df.write.parquet(p)
    val back = spark.read.parquet(p)
    assert(back.schema("meta").dataType == Multimodal.mediaMetaSchema)
    assert(back.count() == 2)
  }

  test("Arrow surface: features round-trip through batches, values intact") {
    val feats = Multimodal.featurize(mediaDf(), "payload", dims = 16)
      .select("media_id", "payload", "features")
    val batches = ArrowSurface.toArrowBatches(feats, maxRecordsPerBatch = 8)
    assert(batches.count() > 0)
    val back = ArrowSurface.fromArrowBatches(spark, feats.schema, batches)
    assert(back.schema == feats.schema)
    val orig = feats.collect().map(r => r.getLong(0) ->
      ((r.getAs[Array[Byte]](1).toSeq, r.getAs[scala.collection.Seq[Float]](2)))).toMap
    val got = back.collect().map(r => r.getLong(0) ->
      ((r.getAs[Array[Byte]](1).toSeq, r.getAs[scala.collection.Seq[Float]](2)))).toMap
    assert(got == orig)
  }

  test("Arrow IPC stream is readable by the public Arrow reader (interop)") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val feats = Multimodal.featurize(mediaDf(), "payload", dims = 16)
      .select("media_id", "features").orderBy("media_id")
    val bytes = ArrowSurface.toIpcStream(feats, maxRecordsPerBatch = 16)
    // read back with arrow-java's own stream reader — what pyarrow's
    // ipc.open_stream speaks — proving the bytes are a valid IPC stream
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      val arrowFields = reader.getVectorSchemaRoot.getSchema.getFields
      assert(arrowFields.size() == 2)
      assert(arrowFields.get(0).getName == "media_id")
      assert(arrowFields.get(1).getName == "features")
      var rows = 0L
      var firstId = -1L
      while (reader.loadNextBatch()) {
        val root = reader.getVectorSchemaRoot
        if (firstId < 0 && root.getRowCount > 0)
          firstId = root.getVector(0)
            .asInstanceOf[org.apache.arrow.vector.BigIntVector].get(0)
        rows += root.getRowCount
      }
      assert(rows == 50, s"expected 50 rows across batches, got $rows")
      assert(firstId == 0L)
    } finally { reader.close(); alloc.close() }
  }
}
