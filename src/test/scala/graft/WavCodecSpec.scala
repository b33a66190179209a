package graft

import graft.operators.{Multimodal, WavCodec}

/** The real pure-JVM WAV codec (r12 verdict item 3 — the arm that retires
  * the audio decode stub): encoder byte layout, chunk-walking parser,
  * round-trip identity, rejection of malformed containers, and the
  * distributed extractWavFeatures census vs a plain-Scala model.
  */
class WavCodecSpec extends SparkTestBase {

  private def rngSamples(seed: Long, n: Int): Array[Short] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(r.nextInt(65536).toShort)
  }

  test("round-trip identity: encode then decode returns the exact PCM") {
    for (seed <- 1 to 20) {
      val n = 1 + seed * 37 % 700
      val s = rngSamples(seed, n)
      val listInfo = if (seed % 3 == 0) Some("name" + "x" * (seed % 5)) else None
      val wav = WavCodec.decodePcm16(
        WavCodec.encodePcm16Mono(s, 8000 + seed, listInfo, listFirst = seed % 2 == 0))
      assert(wav.sampleRate == 8000 + seed)
      assert(wav.channels == 1)
      assert(wav.samples.toSeq == s.toSeq,
        s"PCM round-trip mismatch at seed=$seed n=$n")
    }
  }

  test("encoder byte layout: canonical 44-byte header for the plain container") {
    val s = Array[Short](0, 1, -1, 32767, -32768)
    val b = WavCodec.encodePcm16Mono(s, 8000)
    assert(b.length == 44 + 2 * s.length)
    assert(new String(b, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(b, 8, 4, "US-ASCII") == "WAVE")
    assert(new String(b, 12, 4, "US-ASCII") == "fmt ")
    assert(new String(b, 36, 4, "US-ASCII") == "data")
    // RIFF size field = file length - 8, LE
    val riffSize = (b(4) & 0xff) | ((b(5) & 0xff) << 8) |
      ((b(6) & 0xff) << 16) | ((b(7) & 0xff) << 24)
    assert(riffSize == b.length - 8)
    // sample -1 encodes as 0xFF 0xFF, 32767 as 0xFF 0x7F, -32768 as 0x00 0x80
    assert((b(48) & 0xff) == 0xff && (b(49) & 0xff) == 0xff)
    assert((b(50) & 0xff) == 0xff && (b(51) & 0xff) == 0x7f)
    assert((b(52) & 0xff) == 0x00 && (b(53) & 0xff) == 0x80)
  }

  test("chunk walk: LIST/INFO metadata skipped in either position, odd sizes padded") {
    val s = rngSamples(7, 123)
    for (first <- Seq(true, false); name <- Seq("odd", "even!")) {
      // "odd" -> INAM size 3 (odd, needs pad byte); "even!" -> 5 (odd too);
      // add an even case explicitly
      val wav = WavCodec.decodePcm16(
        WavCodec.encodePcm16Mono(s, 16000, Some(name), listFirst = first))
      assert(wav.samples.toSeq == s.toSeq, s"listFirst=$first name=$name")
    }
    val even = WavCodec.decodePcm16(
      WavCodec.encodePcm16Mono(s, 16000, Some("evenlen!"), listFirst = true))
    assert(even.samples.toSeq == s.toSeq)
  }

  test("malformed containers are rejected with precise errors") {
    val good = WavCodec.encodePcm16Mono(rngSamples(1, 10), 8000)
    def failsWith(bytes: Array[Byte], fragment: String): Unit = {
      val e = intercept[IllegalArgumentException](WavCodec.decodePcm16(bytes))
      assert(e.getMessage.contains(fragment),
        s"expected '$fragment' in: ${e.getMessage}")
    }
    failsWith(Array[Byte](1, 2, 3), "too short")
    failsWith("JUNK".getBytes("US-ASCII") ++ good.drop(4), "bad magic")
    failsWith(good.take(8) ++ "AVI ".getBytes("US-ASCII") ++ good.drop(12),
      "bad form type")
    // truncate mid-data: the data chunk overruns the container
    failsWith(good.take(good.length - 4), "overruns")
    // non-PCM format code (3 = IEEE float) rejected
    val float = good.clone(); float(20) = 3
    failsWith(float, "unsupported audio format")
    // sample rate 0 rejected; a rate >= 2^31 (would wrap negative as Int)
    // rejected too — canonical layout puts the u32 rate at bytes 24-27
    val rate0 = good.clone()
    rate0(24) = 0; rate0(25) = 0; rate0(26) = 0; rate0(27) = 0
    failsWith(rate0, "bad sample rate")
    val rateHuge = good.clone()
    rateHuge(24) = 0; rateHuge(25) = 0; rateHuge(26) = 0
    rateHuge(27) = 0x80.toByte
    failsWith(rateHuge, "bad sample rate")
    // no fmt chunk at all: skip it by renaming to an unknown fourcc
    val nofmt = good.clone()
    "junk".getBytes("US-ASCII").copyToArray(nofmt, 12)
    failsWith(nofmt, "no fmt chunk")
  }

  test("wavMedia payloads decode and extractWavFeatures matches a local model") {
    val media = Multimodal.wavMedia(spark, sfDir).limit(60)
    val feats = Multimodal.extractWavFeatures(media)
      .orderBy("media_id").collect()
    assert(feats.nonEmpty)
    feats.foreach { r =>
      val id = r.getLong(0)
      val n = (200 + id % 312).toInt
      val samples = Array.tabulate(n)(i =>
        ((id * 48271L + i * 40503L) % 65536L) - 32768L)
      assert(r.getLong(3) == n.toLong, s"n_samples id=$id")
      assert(r.getInt(2) == (if (id % 5 < 2) 8000 else 16000), s"rate id=$id")
      assert(r.getLong(4) == samples.map(s => s * s).sum, s"sum_sq id=$id")
      assert(r.getLong(5) == samples.map(math.abs).max, s"max_abs id=$id")
      val loud = samples.grouped(64)
        .count(fr => fr.map(s => s * s).sum > 64L * 19000L * 19000L)
      assert(r.getLong(6) == loud.toLong, s"n_loud_frames id=$id")
      val nmlen = 6 + id.toString.length
      val expectBytes = 44L + 2 * n +
        (if (id % 4 == 1) 20 + nmlen + nmlen % 2 else 0)
      assert(r.getLong(1) == expectBytes, s"payload_bytes id=$id")
    }
  }

  test("extractWavFeatures is partitioning-independent") {
    val media = Multimodal.wavMedia(spark, sfDir).limit(40)
    val a = Multimodal.extractWavFeatures(media).orderBy("media_id")
      .collect().map(_.toSeq)
    val b = Multimodal.extractWavFeatures(media.repartition(7))
      .orderBy("media_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }
}
