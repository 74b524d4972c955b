package graft

import graft.operators.Multimodal
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private def base = df("id BIGINT, payload STRING",
    Row(Long.box(1), "abcdefghij"), Row(Long.box(2), "xy"))

  test("asMediaTable: binary payload + populated metadata struct") {
    val m = Multimodal.asMediaTable(base, "id", "payload", "image")
    val r = m.filter(col("media_id") === 1).head()
    val meta = r.getStruct(2)
    assert(new String(r.getAs[Array[Byte]](1)) == "abcdefghij")
    assert(meta.getAs[String]("kind") == "image")
    assert(meta.getAs[Long]("n_bytes") == 10L)
    assert(meta.getAs[Int]("width") == 42) // 10 % 1024 + 32
  }

  test("decodeFeatures: deterministic stub features of the declared dim") {
    val m = Multimodal.asMediaTable(base, "id", "payload", "image")
    val dec = new Multimodal.StubDecoder(8)
    val f1 = Multimodal.decodeFeatures(m, dec)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val f2 = Multimodal.decodeFeatures(m, dec)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f1 == f2, "decode must be deterministic")
    assert(f1(1L).size == 8)
    assert(f1(1L) != f1(2L))
    assert(f1.values.flatten.forall(v => v >= 0.0f && v <= 1.0f))
  }

  test("decodeDims reads real PNG headers; garbage payloads yield no dims") {
    // A REAL 2x2 PNG, generated with the same JDK surface the reader
    // uses: measured dims, not the asMediaTable placeholder arithmetic.
    val img = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000); img.setRGB(1, 1, 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    assert(Multimodal.decodeDims(bos.toByteArray) == Some((2, 2)),
      "a real PNG header must yield measured dims")
    assert(Multimodal.decodeDims("not an image".getBytes("UTF-8")) == None,
      "undecodable payloads must yield no dims, not throw")
    assert(Multimodal.decodeDims(null) == None)
  }

  test("ImageHistogramDecoder extracts real pixel histograms; fallback for garbage") {
    // Generated PNGs with KNOWN pixel content — the de-stubbed feature
    // path: black pixels land in bin 0, white in the last bin, and a
    // half/half image splits the mass 0.5/0.5. Deterministic by
    // construction (integer luma + integer binning).
    def png(colors: Int*): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        colors.length, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
      colors.zipWithIndex.foreach { case (c, i) => img.setRGB(i, 0, c) }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val dec = new Multimodal.ImageHistogramDecoder(8)
    assert(dec.decode(png(0x000000, 0x000000)).toSeq ==
      Seq(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))
    assert(dec.decode(png(0xffffff, 0xffffff)).toSeq ==
      Seq(0f, 0f, 0f, 0f, 0f, 0f, 0f, 1.0f))
    assert(dec.decode(png(0x000000, 0xffffff)).toSeq ==
      Seq(0.5f, 0f, 0f, 0f, 0f, 0f, 0f, 0.5f))
    // Mid-gray 0x808080: luma 128 -> bin 128*8/256 = 4.
    assert(dec.decode(png(0x808080)).toSeq ==
      Seq(0f, 0f, 0f, 0f, 1.0f, 0f, 0f, 0f))
    // Undecodable bytes route to the fallback decoder (md5 stub here),
    // so the feature column stays total over a corrupt-media corpus.
    val garbage = "not an image".getBytes("UTF-8")
    assert(dec.decode(garbage).toSeq ==
      new Multimodal.StubDecoder(8).decode(garbage).toSeq)
    // End-to-end through the batch decode shape: real image rows get
    // histogram features, garbage rows get stub features, one plan.
    val rows = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(Long.box(1), png(0x000000, 0xffffff)),
        Row(Long.box(2), garbage)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType))))
    val feats = Multimodal.decodeFeatures(rows,
        new Multimodal.ImageHistogramDecoder(8))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats(1L) == Seq(0.5f, 0f, 0f, 0f, 0f, 0f, 0f, 0.5f))
    assert(feats(2L) == new Multimodal.StubDecoder(8).decode(garbage).toSeq)
  }

  test("WavFeatureDecoder: hand-computed features from a real WAV roundtrip") {
    // 8 samples: +100 +100 -100 -100 +100 +100 -100 -100
    val samples = Array[Short](100, 100, -100, -100, 100, 100, -100, -100)
    val wav = Multimodal.syntheticWav(samples, 16000)
    // Sanity: the bytes are a genuine WAV the JDK itself can identify.
    val fmt = javax.sound.sampled.AudioSystem.getAudioFileFormat(
      new java.io.ByteArrayInputStream(wav))
    assert(fmt.getType == javax.sound.sampled.AudioFileFormat.Type.WAVE)
    val f = new Multimodal.WavFeatureDecoder().decode(wav).toSeq
    // [n, mean, mean_abs, zero_crossings, min, max, mean_square, rate]
    assert(f == Seq(8f, 0f, 100f, 3f, -100f, 100f, 10000f, 16000f))
    // Garbage and truncated payloads route to the md5 stub fallback.
    val garbage = Array.fill[Byte](64)(7)
    assert(new Multimodal.WavFeatureDecoder().decode(garbage).toSeq ==
      new Multimodal.StubDecoder(8).decode(garbage).toSeq)
    val truncated = wav.take(20)
    assert(new Multimodal.WavFeatureDecoder().decode(truncated).toSeq ==
      new Multimodal.StubDecoder(8).decode(truncated).toSeq)
  }

  test("WavFeatureDecoder: zero samples carry the previous sign; squareWave exactness") {
    // +A 0 -A: one sign flip (the zero is transparent), not two.
    val wav = Multimodal.syntheticWav(Array[Short](500, 0, -500), 8000)
    val f = new Multimodal.WavFeatureDecoder().decode(wav).toSeq
    assert(f(3) == 1f, s"zero-crossings: $f")
    assert(f(7) == 8000f)
    // The q133 generator's features are float-exact by construction:
    // decode == direct integer recomputation for a sampling of ids.
    Seq(0L, 1L, 5L, 12L, 90L).foreach { id =>
      val s = Multimodal.squareWaveSamples(id)
      val dec = new Multimodal.WavFeatureDecoder()
        .decode(Multimodal.syntheticWav(s, 16000)).toSeq
      val n = s.length
      val mean = s.map(_.toLong).sum.toDouble / n
      val meanAbs = s.map(x => math.abs(x.toLong)).sum.toDouble / n
      val zc = s.sliding(2).count(p => (p(0) < 0) != (p(1) < 0))
      val meanSq = s.map(x => x.toLong * x).sum.toDouble / n
      assert(dec == Seq(n.toFloat, mean.toFloat, meanAbs.toFloat, zc.toFloat,
        s.min.toFloat, s.max.toFloat, meanSq.toFloat, 16000f), s"id $id")
    }
  }

  test("stripPngMeta: removes metadata chunks byte-exactly; guards torn input") {
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val base = bos.toByteArray
    val planted = Multimodal.withPngChunks(base, Seq(
      Multimodal.pngTextChunk("comment", "secret gps"),
      Multimodal.pngTextChunk("author", "x")))
    val (scrubbed, n, nb) = Multimodal.stripPngMeta(planted)
    assert(n == 2 && nb == planted.length - base.length)
    assert(java.util.Arrays.equals(scrubbed, base),
      "scrub must restore the never-tagged original byte-for-byte")
    // scrubbed is still a valid decodable PNG
    assert(Multimodal.decodeDims(scrubbed) == Some((4, 4)))
    // clean input: untouched
    val (same, n0, _) = Multimodal.stripPngMeta(base)
    assert(n0 == 0 && java.util.Arrays.equals(same, base))
    // non-PNG and torn containers pass through unchanged, never throw
    val garbage = "not a png at all".getBytes
    assert(Multimodal.stripPngMeta(garbage)._1 eq garbage)
    val torn = planted.take(planted.length - 5)
    assert(Multimodal.stripPngMeta(torn)._1 eq torn,
      "a torn container must not be rewritten")
    assert(Multimodal.stripPngMeta(null)._1 == null)
  }

  test("mp4Meta parses a genuine ISO-BMFF header: dims, duration, codec") {
    val b = Multimodal.syntheticMp4(1920, 1080, 123456L, "hev1")
    assert(Multimodal.mp4Meta(b) ==
      Some(Multimodal.VideoMeta("mp4", "hev1", 1920, 1080, 123456L)))
    // a webm payload is not ISO-BMFF
    assert(Multimodal.mp4Meta(
      Multimodal.syntheticWebm(320, 240, 1000L, "V_VP9")).isEmpty)
    // truncation and garbage yield None, never a throw
    assert(Multimodal.mp4Meta(b.take(40)).isEmpty)
    assert(Multimodal.mp4Meta("not a video at all".getBytes).isEmpty)
    assert(Multimodal.mp4Meta(Array.emptyByteArray).isEmpty)
    assert(Multimodal.mp4Meta(null).isEmpty)
  }

  test("webmMeta parses a genuine EBML header: dims, duration, codec") {
    val b = Multimodal.syntheticWebm(640, 360, 98765L, "V_AV1")
    assert(Multimodal.webmMeta(b) ==
      Some(Multimodal.VideoMeta("webm", "V_AV1", 640, 360, 98765L)))
    assert(Multimodal.webmMeta(
      Multimodal.syntheticMp4(320, 240, 1000L, "avc1")).isEmpty)
    assert(Multimodal.webmMeta(b.take(30)).isEmpty)
    assert(Multimodal.webmMeta(null).isEmpty)
  }

  test("webmMeta parses an UNKNOWN-SIZE Segment (live-muxed/streamed shape)") {
    // Streaming muxers write Segment with the all-ones size vint
    // ("extends to end of stream"); a header walk that treats it as a
    // numeric size overflows and drops a valid file.
    val live = Multimodal.syntheticWebm(854, 480, 4321L, "V_VP9",
      unknownSegmentSize = true)
    assert(Multimodal.webmMeta(live) ==
      Some(Multimodal.VideoMeta("webm", "V_VP9", 854, 480, 4321L)))
    // sized and unknown-size variants agree on every field
    assert(Multimodal.webmMeta(live) ==
      Multimodal.webmMeta(Multimodal.syntheticWebm(854, 480, 4321L, "V_VP9")))
  }

  test("videoMeta: one pass over mixed containers, NULLs for garbage") {
    val media = df("media_id BIGINT, payload BINARY",
      Row(Long.box(1), Multimodal.syntheticMp4(320, 240, 5000L, "avc1")),
      Row(Long.box(2), Multimodal.syntheticWebm(426, 240, 7000L, "V_VP9")),
      Row(Long.box(3), "corrupt bytes".getBytes))
    val out = Multimodal.videoMeta(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "mp4" && out(1L).getString(2) == "avc1" &&
      out(1L).getInt(3) == 320 && out(1L).getInt(4) == 240 &&
      out(1L).getLong(5) == 5000L)
    assert(out(2L).getString(1) == "webm" && out(2L).getString(2) == "V_VP9" &&
      out(2L).getInt(3) == 426 && out(2L).getLong(5) == 7000L)
    assert(out(3L).isNullAt(1) && out(3L).isNullAt(3) && out(3L).isNullAt(5))
  }
}
