package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  private val pngMagic = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 1, 2, 3)
  private val jpgMagic = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte, 9)

  test("toAssets extracts typed metadata and sniffs media type") {
    val df = Seq((1L, pngMagic), (2L, jpgMagic), (3L, "plain".getBytes))
      .toDF("id", "bytes")
    val out = Multimodal.toAssets(df, "id", "bytes")
    assert(out.schema === Multimodal.assetSchema)
    val byId = out.collect().map(r => r.getLong(0) ->
      (r.getAs[Long]("n_bytes"), r.getAs[String]("media_type"))).toMap
    assert(byId(1L) === ((7L, "image/png")))
    assert(byId(2L) === ((5L, "image/jpeg")))
    assert(byId(3L) === ((5L, "application/octet-stream")))
  }

  test("stubDecode emits fixed-dim features and per-row errors, never fails") {
    val df = Seq((1L, pngMagic), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "bytes")
    val assets = Multimodal.toAssets(df, "id", "bytes")
    val out = Multimodal.stubDecode(assets)
    assert(out.schema === Multimodal.decodedSchema)
    val rows = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getSeq[Float](1).length === 8)
    assert(rows(1L).isNullAt(2))
    assert(rows(2L).isNullAt(1))
    assert(rows(2L).getString(2) === "null payload")
  }

  test("stubResize fits within maxDim preserving aspect, never upscales") {
    val df = Seq(
      (1L, "0123456789".getBytes, 4000, 1000),
      (2L, "0123456789".getBytes, 100, 200),   // already small → untouched
      (3L, null.asInstanceOf[Array[Byte]], 800, 600)
    ).toDF("asset_id", "payload", "width", "height")
    val out = Multimodal.stubResize(df, maxDim = 1000)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(r.fieldIndex("out_width")), r.getInt(r.fieldIndex("out_height")),
          Option(r.get(r.fieldIndex("out_payload")))
            .map(_.asInstanceOf[Array[Byte]].length)))).toMap
    assert(out(1L)._1 === 1000)
    assert(out(1L)._2 === 250)           // aspect preserved
    assert(out(2L) === ((100, 200, Some(10)))) // scale 1.0 → unchanged
    assert(out(3L)._3 === None)          // null payload propagates
  }

  // -------------------------------------------------- real PPM decode path

  /** Deterministic P6 encoder for fixtures: pixel (x,y) = pixelFn(x,y). */
  private def ppm(w: Int, h: Int,
                  pixelFn: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w * h * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = pixelFn(x, y)
      val d = header.length + (y * w + x) * 3
      out(d) = r.toByte; out(d + 1) = g.toByte; out(d + 2) = b.toByte
    }
    out
  }

  test("aHashPpm: near-identical images within a few bits, contrast flips far") {
    import graft.functions.VectorFunctions
    val half = ppm(16, 16, (x, _) => if (x < 8) (250, 250, 250) else (5, 5, 5))
    // same image with one pixel nudged: perceptually identical
    val halfTweaked = ppm(16, 16, (x, y) =>
      if (x == 3 && y == 3) (240, 240, 240)
      else if (x < 8) (250, 250, 250) else (5, 5, 5))
    val inverted = ppm(16, 16, (x, _) => if (x < 8) (5, 5, 5) else (250, 250, 250))
    val bad = "nope".getBytes("US-ASCII")
    val df = Seq((1L, half), (2L, halfTweaked), (3L, inverted), (4L, bad))
      .toDF("asset_id", "payload")
    val out = Multimodal.aHashPpm(df).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(4L) === None, "parse error yields null hash, not a crash")
    val Seq(h1, h2, h3) = Seq(1L, 2L, 3L).map(out(_).get)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h1, h2) <= 2, s"near-identical images: ${ham(h1, h2)} bits apart")
    assert(ham(h1, h3) >= 32, s"inverted image must flip ~all set bits: ${ham(h1, h3)}")
    // native hamming expression agrees with the JVM popcount
    val viaExpr = Seq((h1, h2)).toDF("a", "b")
      .select(VectorFunctions.hammingDistance($"a", $"b")).head().getLong(0)
    assert(viaExpr === ham(h1, h2).toLong)
  }

  test("decodePpm extracts exact dimensions and channel means") {
    // 4x2: r = 10*x, g = 100*y, b = 7 → means r=15, g=50, b=7 exactly
    val img = ppm(4, 2, (x, y) => (10 * x, 100 * y, 7))
    val df = Seq((1L, img)).toDF("asset_id", "payload")
    val r = Multimodal.decodePpm(df).collect().head
    assert(r.getInt(1) === 4 && r.getInt(2) === 2)
    assert(r.getDouble(3) === 15.0)
    assert(r.getDouble(4) === 50.0)
    assert(r.getDouble(5) === 7.0)
    assert(r.isNullAt(6))
  }

  test("decodePpm tolerates header comments and captures parse errors per row") {
    val good = ppm(2, 2, (_, _) => (1, 2, 3))
    val commented = ("P6\n# a comment\n2 2\n255\n".getBytes("US-ASCII")
      ++ good.drop(s"P6\n2 2\n255\n".length))
    val truncated = good.dropRight(5)
    val wrongMagic = "P5\n2 2\n255\n".getBytes ++ Array.fill[Byte](12)(0)
    val bigMaxval = "P6\n2 2\n65535\n".getBytes ++ Array.fill[Byte](24)(0)
    val df = Seq(1L -> commented, 2L -> truncated, 3L -> wrongMagic,
      4L -> bigMaxval, 5L -> null.asInstanceOf[Array[Byte]])
      .toDF("asset_id", "payload")
    val out = Multimodal.decodePpm(df).collect()
      .map(r => r.getLong(0) -> Option(r.getString(6))).toMap
    assert(out(1L) === None, "comment in header must parse")
    assert(out(2L).exists(_.startsWith("truncated")))
    assert(out(3L) === Some("not a P6 ppm"))
    assert(out(4L) === Some("unsupported maxval 65535"))
    assert(out(5L) === Some("null payload"))
  }

  test("resizePpm: exact nearest-neighbor geometry, valid P6 out, no upscale") {
    // 100x40, maxDim 10 → scale 0.1 → 10x4
    val img = ppm(100, 40, (x, y) => (x % 256, y % 256, (x + y) % 256))
    val df = Seq((1L, img)).toDF("asset_id", "payload")
    val r = Multimodal.resizePpm(df, maxDim = 10).collect().head
    assert(r.getInt(1) === 10 && r.getInt(2) === 4)
    val parsed = Multimodal.parsePpm(r.getAs[Array[Byte]](3))
    assert(parsed.isRight, "output must be a valid P6 payload")
    val Right((ow, oh, px)) = parsed: @unchecked
    assert((ow, oh) === ((10, 4)))
    // nearest-neighbor integer mapping: out (x,y) = src (x*100/10, y*40/4)
    for (y <- 0 until oh; x <- 0 until ow) {
      val (sx, sy) = (x * 10, y * 10)
      val d = (y * ow + x) * 3
      assert((px(d) & 0xff) === sx % 256, s"pixel ($x,$y) red")
      assert((px(d + 1) & 0xff) === sy % 256, s"pixel ($x,$y) green")
      assert((px(d + 2) & 0xff) === (sx + sy) % 256, s"pixel ($x,$y) blue")
    }
  }

  test("resizePpm leaves already-small images bit-identical in content") {
    val img = ppm(6, 3, (x, y) => (x, y, x * y))
    val df = Seq((1L, img)).toDF("asset_id", "payload")
    val r = Multimodal.resizePpm(df, maxDim = 10).collect().head
    assert(r.getInt(1) === 6 && r.getInt(2) === 3)
    assert(r.getAs[Array[Byte]](3).toSeq === img.toSeq,
      "scale clamped to 1 must reproduce the identical payload")
  }

  test("stubDecode is deterministic") {
    val df = Seq((1L, pngMagic)).toDF("id", "bytes")
    val assets = Multimodal.toAssets(df, "id", "bytes")
    val a = Multimodal.stubDecode(assets).collect().head.getSeq[Float](1)
    val b = Multimodal.stubDecode(assets).collect().head.getSeq[Float](1)
    assert(a === b)
  }
  test("decodeWavPcm: square/constant/stereo hand-checks and error capture") {
    def wav(ch: Int, sr: Int, samples: Seq[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1); bb.putShort(ch.toShort)
      bb.putInt(sr); bb.putInt(sr * ch * 2)
      bb.putShort((ch * 2).toShort); bb.putShort(16)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
      samples.foreach(s => bb.putShort(s))
      bb.array()
    }
    val square = wav(1, 8000,
      (0 until 8).map(i => (if (i % 2 == 0) 1000 else -1000).toShort))
    val const = wav(1, 4000, Seq.fill(4)(500.toShort))
    // stereo: L alternates sign every frame (3 crossings), R constant (0)
    val stereo = wav(2, 8000, Seq[Short](800, 100, -800, 100, 800, 100, -800, 100))
    val junk = "RIFFjunk".getBytes("US-ASCII")
    val df = Seq((1L, square), (2L, const), (3L, stereo), (4L, junk))
      .toDF("id", "bytes")
    val out = Multimodal.decodeWavPcm(
        Multimodal.toAssets(df, "id", "bytes"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // square wave: rms = 1000 exactly, every adjacent pair crosses
    val sq = out(1L)
    assert(sq.getInt(1) === 1 && sq.getInt(2) === 8000)
    assert(sq.getLong(3) === 8L && sq.getDouble(4) === 0.001)
    assert(sq.getDouble(5) === 1000.0 && sq.getInt(6) === 1000)
    assert(sq.getDouble(7) === 1.0 && sq.isNullAt(8))
    // constant positive signal: zero crossings
    assert(out(2L).getDouble(5) === 500.0 &&
      out(2L).getDouble(7) === 0.0)
    // stereo: 4 frames, crossings counted per channel: L flips 3x of 6
    // comparable samples -> zcr = 0.5; rms over ALL samples
    val st = out(3L)
    assert(st.getLong(3) === 4L && st.getDouble(7) === 0.5)
    assert(st.getDouble(5) ===
      BigDecimal(math.sqrt((4 * 800.0 * 800 + 4 * 100.0 * 100) / 8))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // malformed payload is a decode_error row, not a task failure
    assert(!out(4L).isNullAt(8) && out(4L).isNullAt(5))
  }

  test("toneEnergies: Goertzel finds the sine's bin, rejects the rest") {
    import spark.implicits._
    def wav(ch: Int, sr: Int, samples: Seq[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1); bb.putShort(ch.toShort)
      bb.putInt(sr); bb.putInt(sr * ch * 2)
      bb.putShort((ch * 2).toShort); bb.putShort(16)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
      samples.foreach(s => bb.putShort(s))
      bb.array()
    }
    val sr = 8000
    // 1 kHz sine, one full second (integer number of cycles → clean bin)
    val sine = wav(1, sr, (0 until sr).map(i =>
      (8000 * math.sin(2 * math.Pi * 1000 * i / sr)).toShort))
    // stereo version: same tone on both channels (mixing must keep it)
    val stereo = wav(2, sr, (0 until sr).flatMap(i => {
      val s = (8000 * math.sin(2 * math.Pi * 1000 * i / sr)).toShort
      Seq(s, s)
    }))
    val silent = wav(1, sr, Seq.fill(64)(0.toShort))
    val junk = "RIFFjunk".getBytes("US-ASCII")
    val assets = Multimodal.toAssets(
      Seq((1L, sine), (2L, stereo), (3L, silent), (4L, junk))
        .toDF("id", "bytes"), "id", "bytes")
    val out = Multimodal.toneEnergies(assets, Seq(1000.0, 1570.0, 60.0))
      .collect().map(r => (r.getLong(0), r.getDouble(1)) -> r).toMap
    // the sine's bin holds ~all the power; off-bin frequencies ~none
    assert(out((1L, 1000.0)).getDouble(2) > 0.98)
    assert(out((1L, 1000.0)).getBoolean(3))
    assert(out((1L, 1570.0)).getDouble(2) < 0.02)
    assert(!out((1L, 1570.0)).getBoolean(3))
    assert(out((1L, 60.0)).getDouble(2) < 0.05)
    // channel mixing preserves the tone
    assert(out((2L, 1000.0)).getDouble(2) > 0.98)
    // silence and junk are error rows per frequency, never task failures
    assert(!out((3L, 1000.0)).isNullAt(4) && out((3L, 1000.0)).isNullAt(2))
    assert(!out((4L, 1000.0)).isNullAt(4))
    // Nyquist guard: a 5 kHz probe at sr=8000 is an error row
    val ny = Multimodal.toneEnergies(assets, Seq(5000.0))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!ny(1L).isNullAt(4) && ny(1L).getString(4).contains("Nyquist"))
    intercept[IllegalArgumentException](
      Multimodal.toneEnergies(assets, Seq.empty))
    intercept[IllegalArgumentException](
      Multimodal.toneEnergies(assets, Seq(100.0), detectAt = 0.0))
  }

  // --------------------------------------------- real ImageIO decode

  /** Closed-form fixture means (the synthImages pixel formula). */
  private def formulaMeans(id: Long): (Int, Int, Double, Double, Double) = {
    val w = (8 + id % 9).toInt
    val h = (8 + id % 7).toInt
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until h; x <- 0 until w) {
      sr += (7 * id + 3 * x + 5 * y) % 256
      sg += (11 * id + 2 * x + 7 * y) % 256
      sb += (13 * id + 4 * x + y) % 256
    }
    val n = (w.toLong * h).toDouble
    (w, h, sr / n, sg / n, sb / n)
  }

  test("decodeImage: real PNG roundtrip reproduces the closed form exactly") {
    val ids = Seq(0L, 3L, 17L, 100L).toDF("id")
    val out = Multimodal.decodeImage(Multimodal.synthImages(ids, "id", "png"))
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(0L, 3L, 17L, 100L)) {
      val (w, h, mr, mg, mb) = formulaMeans(id)
      val r = out(id)
      assert(r.getString(1) === "png")
      assert(r.getInt(2) === w && r.getInt(3) === h)
      assert(r.getDouble(4) === mr && r.getDouble(5) === mg
        && r.getDouble(6) === mb)
      assert(r.isNullAt(7))
    }
  }

  test("decodeImage: real JPEG decode preserves dims; means within codec noise") {
    val ids = Seq(1L, 42L).toDF("id")
    val out = Multimodal.decodeImage(Multimodal.synthImages(ids, "id", "jpg"))
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(1L, 42L)) {
      val (w, h, mr, mg, mb) = formulaMeans(id)
      val r = out(id)
      assert(r.getString(1) === "jpeg")
      assert(r.getInt(2) === w && r.getInt(3) === h)
      // lossy: overall brightness survives even when pixels move
      assert(math.abs(r.getDouble(4) - mr) < 16.0)
      assert(math.abs(r.getDouble(5) - mg) < 16.0)
      assert(math.abs(r.getDouble(6) - mb) < 16.0)
    }
  }

  test("decodeImage: BMP is lossless too; junk and null stay error rows") {
    val ids = Seq(7L).toDF("id")
    val bmp = Multimodal.decodeImage(Multimodal.synthImages(ids, "id", "bmp"))
      .collect().head
    val (w, h, mr, _, _) = formulaMeans(7L)
    assert(bmp.getString(1) === "bmp" && bmp.getInt(2) === w
      && bmp.getInt(3) === h && bmp.getDouble(4) === mr)
    val bad = Seq((1L, "not an image".getBytes),
      (2L, null.asInstanceOf[Array[Byte]]),
      // PNG magic but truncated body: reader exists, decode fails
      (3L, Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 1)))
      .toDF("asset_id", "payload")
    val errs = Multimodal.decodeImage(bad).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(errs(1L).getString(7).contains("no registered reader"))
    assert(errs(2L).getString(7) === "null payload")
    assert(!errs(3L).isNullAt(7) && errs(3L).isNullAt(2))
  }

  test("aHashImage over PNG equals aHashPpm over the same pixels") {
    val ids = Seq(5L, 23L).toDF("id")
    val viaPng = Multimodal.aHashImage(
      Multimodal.synthImages(ids, "id", "png"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same formula pixels as raw P6 bytes
    def ppm(id: Long): Array[Byte] = {
      val w = (8 + id % 9).toInt
      val h = (8 + id % 7).toInt
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val px = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val o = (y * w + x) * 3
        px(o) = ((7 * id + 3 * x + 5 * y) % 256).toByte
        px(o + 1) = ((11 * id + 2 * x + 7 * y) % 256).toByte
        px(o + 2) = ((13 * id + 4 * x + y) % 256).toByte
      }
      header ++ px
    }
    val viaPpm = Multimodal.aHashPpm(
      Seq((5L, ppm(5L)), (23L, ppm(23L))).toDF("asset_id", "payload"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaPng === viaPpm)
  }
}
