package graft.multimodal

import graft.SparkSuite
import graft.multimodal.Media._
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal plumbing: binary payload schema, batched decode,
  * deterministic stub features, frame sampling shape. */
class MediaSpec extends AnyFunSuite with SparkSuite {

  test("payloads ride as binary columns with typed metadata") {
    val media = syntheticMedia(spark, 30)
    val schema = media.schema
    assert(schema("payload").dataType.typeName == "binary")
    assert(schema("meta").dataType.typeName == "struct")
    assert(media.count() == 30)
  }

  test("feature extraction is deterministic and emits compact features only") {
    val media = syntheticMedia(spark, 30)
    val f1 = extractFeatures(media, new StubDecoder(8), partitions = 4).collect().sortBy(_.media_id)
    val f2 = extractFeatures(media, new StubDecoder(8), partitions = 2).collect().sortBy(_.media_id)
    assert(f1.length == 30)
    // deterministic across partitioning
    f1.zip(f2).foreach { case (a, b) =>
      assert(a.media_id == b.media_id && a.checksum == b.checksum && a.feature.sameElements(b.feature))
    }
    // features are bytes-derived, not constant
    assert(f1.map(_.checksum).distinct.length > 1)
    assert(f1.forall(_.feature.length == 8))
    // schema has no payload column — shuffles move features, not blobs
    val cols = extractFeatures(media, new StubDecoder(8), 4).schema.fieldNames.toSet
    assert(!cols.contains("payload"))
  }

  test("StubDecoder checksum/feature match an independent hand computation") {
    // Straight-line re-derivation of the decode contract, written
    // independently of StubDecoder's loop structure: CRC32 over the
    // payload, and per-band strided rolling hash h = 31h + byte starting
    // at h0 = 1125899906842597 + band, quantized to thousandths. This is
    // what anchors the q38 golden parquet: the golden is produced by the
    // pipeline, but the pipeline's semantics are pinned here.
    val payload = "The quick brown fox jumps over the lazy dog".getBytes("UTF-8")
    val row = MediaRow(7L, MediaMeta("image", 640, 480, 16000), payload)
    val got = new StubDecoder(8).decode(row)

    val crc = new java.util.zip.CRC32(); crc.update(payload)
    assert(got.checksum == crc.getValue)
    assert(got.n_bytes == payload.length.toLong)
    val wantFeature = (0 until 8).map { band =>
      val h = Iterator.range(band, payload.length, 8)
        .foldLeft(1125899906842597L + band)((acc, j) => 31 * acc + payload(j))
      (h % 1000).toFloat / 1000f
    }
    assert(got.feature.toSeq == wantFeature)

    // and the q38 fingerprint fold recovers those thousandths exactly
    val wantFp = wantFeature.foldLeft(0L) { (acc, x) =>
      val v = math.round(x.toDouble * 1000)
      java.lang.Math.floorMod(acc * 1009 + v, 1000000007L)
    }
    val sp = spark; import sp.implicits._
    val fp = Seq(got).toDS().toDF()
      .selectExpr("aggregate(feature, 0L, (acc, x) -> pmod(acc * 1009 + cast(round(cast(x as double) * 1000) as bigint), 1000000007L)) as fp")
      .as[Long].head()
    assert(fp == wantFp)
  }

  test("resize scales payload length by the pixel ratio, caps at source, keeps the byte prefix") {
    val media = syntheticMedia(spark, 30)
    val src = media.collect().map(r => r.media_id -> r.payload).toMap
    val out = Media.resize(media, tw = 64, th = 48, partitions = 4).collect()
    assert(out.length == 30)
    out.foreach { r =>
      val n = src(r.media_id).length.toLong
      val expectLen = math.min(math.max(1L, n * 64 * 48 / (640L * 480)), n)
      assert(r.out_w == 64 && r.out_h == 48)
      assert(r.n_bytes_in == n && r.n_bytes_out == expectLen)
      assert(r.payload.toSeq == src(r.media_id).take(expectLen.toInt).toSeq,
        s"media ${r.media_id}: resized payload is not the source prefix")
    }
    // upscale request caps at the source length (a stub cannot invent bytes)
    val up = Media.resize(media, tw = 6400, th = 4800, partitions = 4).collect()
    up.foreach(r => assert(r.n_bytes_out == r.n_bytes_in))
    // deterministic under a different partitioning
    val again = Media.resize(media, tw = 64, th = 48, partitions = 2).collect()
      .map(r => r.media_id -> r.payload.toSeq).toMap
    out.foreach(r => assert(again(r.media_id) == r.payload.toSeq))
  }

  test("resize rejects zero dimension hints with the offending row named; huge target dims don't overflow") {
    val sp = spark; import sp.implicits._
    val bad = Seq(MediaRow(99L, MediaMeta("image", 0, 480, 0), Array[Byte](1, 2, 3))).toDS()
    val e = intercept[org.apache.spark.SparkException] {
      Media.resize(bad, tw = 64, th = 48, partitions = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("media_id=99") && m.contains("dimension hints")),
      messages(e).mkString(" | "))
    // n·tw·th would overflow Long pre-fix (2^31-scale targets); the
    // BigInt intermediate must still cap at the source length
    val media = syntheticMedia(spark, 3)
    val out = Media.resize(media, tw = Int.MaxValue, th = Int.MaxValue, partitions = 1).collect()
    out.foreach(r => assert(r.n_bytes_out == r.n_bytes_in, s"media ${r.media_id} overflowed"))
  }

  test("frame sampling emits every k-th block for video rows only") {
    val media = syntheticMedia(spark, 30)
    val frames = sampleFrames(media, everyK = 2).collect()
    assert(frames.nonEmpty)
    val ids = frames.map(_.getLong(0)).distinct.toSet
    // ids 2, 5, 8, ... are "video" in the synthetic table
    assert(ids.forall(_ % 3 == 2))
    assert(frames.forall(_.getInt(1) % 2 == 0))
  }

  test("audio energy windows: hand-computed energies, audio rows only, exact boundary") {
    val sp = spark; import sp.implicits._
    // constructed payload: window 0 = four bytes at the zero point
    // (energy 0, silent), window 1 = four bytes at zero+10 (energy 400,
    // silent iff 400 < threshold·4), trailing ragged window of 2 bytes
    val zero = 96
    val payload = (Array.fill(4)(zero.toByte) ++ Array.fill(4)((zero + 10).toByte)
      ++ Array.fill(2)((zero + 30).toByte))
    val media = sp.createDataset(Seq(
      MediaRow(1L, MediaMeta("audio", 640, 480, 16000), payload),
      MediaRow(2L, MediaMeta("image", 640, 480, 16000), payload)))
    val out = Media.audioEnergy(media, window = 4, zero = zero,
      silenceThreshold = 100L, partitions = 2).collect()
      .sortBy(w => (w.media_id, w.win_idx))
    assert(out.map(_.media_id).forall(_ == 1L), "non-audio row leaked in")
    assert(out.length == 3)
    assert(out(0).energy == 0L && out(0).is_silence)
    assert(out(1).energy == 400L && !out(1).is_silence) // 400 == 100·4: strict <
    assert(out(2).n_samples == 2L && out(2).energy == 1800L && !out(2).is_silence)
  }

  test("frame histograms: hand-computed buckets, video rows only, ragged tail") {
    val sp = spark; import sp.implicits._
    // frame 0: 128 bytes of value 32 (bucket 0); frame 1: 128 bytes of
    // value 33 (bucket 1); frame 2 (ragged): 10 bytes of value 32
    val payload = (Array.fill(128)(32.toByte) ++ Array.fill(128)(33.toByte)
      ++ Array.fill(10)(32.toByte))
    val media = sp.createDataset(Seq(
      MediaRow(1L, MediaMeta("video", 640, 480, 16000), payload),
      MediaRow(2L, MediaMeta("audio", 640, 480, 16000), payload)))
    val out = Media.frameHistograms(media, buckets = 16, frameBytes = 128)
      .collect().sortBy(_.frame_idx)
    assert(out.map(_.media_id).forall(_ == 1L), "non-video row leaked in")
    assert(out.length == 3)
    assert(out(0).hist(0) == 128L && out(0).hist.sum == 128L)
    assert(out(1).hist(1) == 128L && out(1).hist.sum == 128L)
    assert(out(2).n_bytes == 10L && out(2).hist(0) == 10L)
    // the scene-change arithmetic on these frames: L1(f0,f1) = 256 and
    // 4·256 > 128+128 — a certain boundary; L1(f1,f2) = 138, 4·138 >
    // 128+10 — boundary again (full mass moved buckets)
    val l1a = out(0).hist.zip(out(1).hist).map { case (a, b) => math.abs(a - b) }.sum
    assert(l1a == 256L && 4 * l1a > 256L)
  }
}
