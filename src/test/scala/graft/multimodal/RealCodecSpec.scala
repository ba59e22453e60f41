package graft.multimodal

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** The real-codec opt-in (VERDICT r09 ask #4): genuine PNG and WAV
  * bytes ride the SAME typed mapPartitions seam the stub rides —
  * schema, partitioning, and batching identical, only the Decoder
  * class swaps. Everything here uses the JDK's own codecs
  * (javax.imageio / javax.sound.sampled) — no external dependency, so
  * the spec runs in the sandbox and on any cluster JVM.
  */
class RealCodecSpec extends AnyFunSuite with SparkSuite {

  override def beforeAll(): Unit = {
    System.setProperty("java.awt.headless", "true")
    super.beforeAll()
  }

  /** a real 8×6 PNG: left half black, right half white. */
  private def tinyPng(): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(8, 6,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** a real 16-bit mono little-endian WAV holding the given samples. */
  private def tinyWav(samples: Array[Short], rateHz: Float = 8000f): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      rateHz, 16, 1, 2, rateHz, false)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def mediaDs(rows: Seq[Media.MediaRow]) = {
    val sp = spark; import sp.implicits._
    sp.createDataset(rows)
  }

  test("ImageIoDecoder: real PNG through extractFeatures — true dims, band luma, CRC") {
    val png = tinyPng()
    // deliberately WRONG metadata hints: a real decoder must report the
    // decoded bitmap's dimensions, not the hints
    val rows = Seq(Media.MediaRow(7L, Media.MediaMeta("image", 999, 999, 0), png))
    val feats = Media.extractFeatures(mediaDs(rows),
      new Media.ImageIoDecoder(4), partitions = 2).collect()
    assert(feats.length == 1)
    val f = feats(0)
    assert(f.width == 8 && f.height == 6, s"${f.width}x${f.height}")
    assert(f.n_bytes == png.length.toLong)
    val crc = new java.util.zip.CRC32(); crc.update(png)
    assert(f.checksum == crc.getValue)
    // every band is half black (luma 0) half white (integer luma
    // (77+150+29)*255>>8 = 255 exactly): mean = 255/2 ⇒ 0.5/255-scaled
    assert(f.feature.length == 4)
    f.feature.foreach(v => assert(math.abs(v - 0.5f) < 0.01f, v.toString))
  }

  test("decoderFor: stub by default, imageio under the opt-in conf, loud on typos") {
    assert(Media.decoderFor(spark).isInstanceOf[Media.StubDecoder])
    spark.conf.set("spark.graft.media.decoder", "imageio")
    try assert(Media.decoderFor(spark).isInstanceOf[Media.ImageIoDecoder])
    finally spark.conf.unset("spark.graft.media.decoder")
    spark.conf.set("spark.graft.media.decoder", "ffmpeg")
    try intercept[IllegalArgumentException](Media.decoderFor(spark))
    finally spark.conf.unset("spark.graft.media.decoder")
  }

  test("ImageIoDecoder: undecodable bytes fail with the row named (not a silent skip)") {
    val rows = Seq(Media.MediaRow(13L, Media.MediaMeta("image", 1, 1, 0),
      "this is not a png".getBytes("UTF-8")))
    val ex = intercept[org.apache.spark.SparkException] {
      Media.extractFeatures(mediaDs(rows), new Media.ImageIoDecoder(4), partitions = 1).collect()
    }
    assert(ex.getMessage.contains("media_id=13") ||
      Option(ex.getCause).exists(_.getMessage.contains("media_id=13")))
  }

  test("resizeImageIo: real downscale — output is a decodable PNG at the target dims") {
    val rows = Seq(Media.MediaRow(3L, Media.MediaMeta("image", 8, 6, 0), tinyPng()))
    val out = Media.resizeImageIo(mediaDs(rows), tw = 4, th = 3, partitions = 2).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.out_w == 4 && r.out_h == 3 && r.n_bytes_out == r.payload.length.toLong)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
    assert(back != null && back.getWidth == 4 && back.getHeight == 3)
    // content survives the scale: left half dark, right half bright
    val darkLuma = back.getRGB(0, 1) & 0xff
    val brightLuma = back.getRGB(3, 1) & 0xff
    assert(darkLuma < 64 && brightLuma > 192, s"$darkLuma vs $brightLuma")
  }

  test("audioEnergyWav: real WAV windows — exact Σs² energies and silence flags") {
    // 8 loud samples (amplitude 1000) then 8 near-silent ones (amplitude 2)
    val samples = (Array.fill(8)(1000.toShort) ++ Array.fill(8)(2.toShort))
    val wav = tinyWav(samples)
    val rows = Seq(Media.MediaRow(5L, Media.MediaMeta("audio", 0, 0, 8000), wav))
    val wins = Media.audioEnergyWav(mediaDs(rows), window = 8,
      silenceThreshold = 100L, partitions = 2).collect().sortBy(_.win_idx)
    assert(wins.length == 2)
    assert(wins(0).n_samples == 8L && wins(0).energy == 8L * 1000L * 1000L)
    assert(!wins(0).is_silence)
    assert(wins(1).energy == 8L * 4L && wins(1).is_silence)
  }

  test("q38 pipeline under the opt-in: real PNG payloads flow through the SAME " +
      "extractFeatures call the gate uses, with the conf-selected decoder") {
    val png = tinyPng()
    val rows = (0L until 6L).map(i =>
      Media.MediaRow(i, Media.MediaMeta("image", 999, 999, 0), png))
    spark.conf.set("spark.graft.media.decoder", "imageio")
    try {
      val feats = Media.extractFeatures(mediaDs(rows),
        Media.decoderFor(spark, 8), partitions = 4).collect()
      assert(feats.length == 6)
      assert(feats.forall(f => f.width == 8 && f.height == 6))
    } finally spark.conf.unset("spark.graft.media.decoder")
  }
}
