package graft.ext

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import graft.SparkSpec

class MultimodalSpec extends SparkSpec {

  test("decodePpm parses a hand-built P6 image and averages channels") {
    import spark.implicits._
    // 2x2 image: all-red, all-green, all-blue, white
    val px = Array[Byte](
      255.toByte, 0, 0, 0, 255.toByte, 0,
      0, 0, 255.toByte, 255.toByte, 255.toByte, 255.toByte)
    val img = "P6\n2 2\n255\n".getBytes("UTF-8") ++ px
    val out = Multimodal.decodePpm(
      Seq((7L, img)).toDF("doc_id", "img"), "doc_id", "img").head()
    assert(out == Multimodal.PpmStats(7L, 2, 2, 127.5, 127.5, 127.5))
    // comment + multi-digit dims parse too
    val (w, h, off) = Multimodal.PpmParser.header(
      "P6\n# a comment\n640 480\n255\n".getBytes("UTF-8"))
    assert((w, h) == ((640, 480)))
    assert(off == "P6\n# a comment\n640 480\n255\n".length)
    // non-P6 input fails loudly, never decodes garbage
    intercept[IllegalArgumentException] {
      Multimodal.PpmParser.header("JFIF....".getBytes("UTF-8"))
    }
  }
  import spark.implicits._

  test("binaryMeta: byte length, digest, and head bytes of binary payloads") {
    val df = Seq("hello").toDF("text")
      .select(Multimodal.binaryMeta(col("text").cast("binary")): _*)
    val r = df.head()
    assert(r.getInt(0) == 5)
    assert(r.getString(1) == "5d41402abc4b2a76b9719d911017c592")
    assert(r.getString(2) == "68656C6C6F")
  }

  test("fakeDecodeFeatures: exact schema, dimension, determinism, range") {
    val df = Seq("imgbytes-a", "imgbytes-b").toDF("t")
      .select(Multimodal.fakeDecodeFeatures(col("t").cast("binary"), 8).as("f"))
    assert(df.schema("f").dataType.asInstanceOf[ArrayType].elementType == FloatType,
      "decoder stub must produce the real extractor's schema: array<float>")
    val rows = df.as[Seq[Float]].collect()
    assert(rows.forall(_.length == 8))
    assert(rows.forall(_.forall(v => v >= 0f && v < 1f)))
    assert(rows(0) != rows(1), "different payloads, different features")
    val again = df.as[Seq[Float]].collect()
    assert(rows.toSeq == again.toSeq, "deterministic")
  }

  test("decodePartitioned: batched decode keeps schema, ids, and determinism") {
    val df = Seq((1L, "payload-one"), (2L, "payload-two"), (3L, "p3"))
      .toDF("doc_id", "t")
      .withColumn("bin", col("t").cast("binary"))
      .repartition(2) // decode must be partition-parallel
    val out = Multimodal.decodePartitioned(df, "doc_id", "bin", dim = 16)
    val rows = out.collect().sortBy(_.doc_id)
    assert(rows.map(_.doc_id).toSeq == Seq(1L, 2L, 3L))
    assert(rows(0).n_bytes == 11 && rows(2).n_bytes == 2)
    assert(rows.forall(_.features.length == 16))
    assert(rows.forall(_.features.forall(v => v >= 0f && v < 1f)))
    assert(!rows(0).features.sameElements(rows(1).features))
    val again = Multimodal.decodePartitioned(df, "doc_id", "bin", 16)
      .collect().sortBy(_.doc_id)
    assert(rows.map(_.features.toSeq).toSeq == again.map(_.features.toSeq).toSeq)
  }

  test("frameSample slices stride-th frames and zero-pads the tail") {
    // 6 bytes of payload over a 4-frame × 4-byte layout, stride 2:
    // frame 0 = bytes 0-3 (values 10,20,30,40), frame 2 = all padding.
    val df = Seq((7L, Array[Byte](10, 20, 30, 40, 50, 60))).toDF("id", "bin")
    val got = Multimodal.frameSample(df, "id", "bin",
        frameBytes = 4, nFrames = 4, stride = 2)
      .collect().sortBy(_.frame_idx).toSeq
    assert(got.map(_.frame_idx) == Seq(0, 2), "stride-2 sample of 4 frames")
    assert(got(0).mean_b == 25.0 && got(0).max_b == 40, s"got ${got(0)}")
    assert(got(1).mean_b == 0.0 && got(1).max_b == 0,
      "past-payload frame must be all zero padding")
  }

  test("array<float> features survive join and aggregation") {
    val feats = Seq((1L, Seq(1f, 2f)), (2L, Seq(3f, 4f))).toDF("id", "f")
    val meta = Seq((1L, "x"), (2L, "y")).toDF("id", "tag")
    val out = feats.join(meta, "id")
      .groupBy("tag").agg(first("f").as("f"))
      .orderBy("tag").as[(String, Seq[Float])].collect()
    assert(out.toSeq == Seq(("x", Seq(1f, 2f)), ("y", Seq(3f, 4f))))
  }

  test("ppmAHash thresholds each pixel against the image mean") {
    // 8×8 image, rows alternate bright (200,200,200) and dark (10,10,10):
    // bright pixels sit above the mean → bits set for rows 0,2,4,6.
    def img(bright: Int): Array[Byte] = {
      val px = Array.tabulate(64 * 3) { j =>
        val row = (j / 3) / 8
        (if (row % 2 == 0) bright else 10).toByte
      }
      "P6\n8 8\n255\n".getBytes("UTF-8") ++ px
    }
    val df = Seq((1L, img(200)), (2L, img(200)), (3L, img(201)))
      .toDF("doc_id", "img")
    val got = Multimodal.ppmAHash(df, "doc_id", "img")
      .collect().map(r => r.doc_id -> r.phash).toMap
    val expected = (0 until 64)
      .filter(i => (i / 8) % 2 == 0).map(1L << _).reduce(_ | _)
    assert(got(1L) == expected, f"got ${got(1L)}%016x want $expected%016x")
    assert(got(1L) == got(2L), "identical images hash identically")
    assert(java.lang.Long.bitCount(got(1L) ^ got(3L)) == 0,
      "a 1-unit brightness change flips no bit in this clear-margin image")
  }

  test("PngCodec decodes a CROSS-IMPLEMENTATION reference PNG (python " +
      "zlib-built fixture with an ancillary chunk) to exact pixels") {
    // Built independently with python's zlib/struct — a channel-order or
    // filter-convention bug made symmetrically in the Scala encoder AND
    // decoder cannot cancel out against this fixture. 2×2 RGB, rows
    // filter-None, plus a tEXt chunk the decoder must skip.
    val fixture = Array[Int](
      -119, 80, 78, 71, 13, 10, 26, 10, 0, 0, 0, 13, 73, 72, 68, 82, 0, 0,
      0, 2, 0, 0, 0, 2, 8, 2, 0, 0, 0, -3, -44, -102, 115, 0, 0, 0, 19,
      116, 69, 88, 116, 67, 111, 109, 109, 101, 110, 116, 0, 114, 101, 102,
      32, 102, 105, 120, 116, 117, 114, 101, -45, -80, 15, 120, 0, 0, 0,
      22, 73, 68, 65, 84, 120, -100, 99, -32, 18, -111, -45, 48, -78, 97,
      112, 11, -120, 58, 49, 45, 5, 0, 16, -128, 3, -123, -60, 90, -121,
      -111, 0, 0, 0, 0, 73, 69, 78, 68, -82, 66, 96, -126).map(_.toByte)
    val (w, h, rgb) = Multimodal.PngCodec.decode(fixture)
    assert((w, h) == (2, 2))
    assert(rgb.map(_ & 0xff).toSeq ==
      Seq(10, 20, 30, 40, 50, 60, 70, 80, 90, 200, 150, 100))
  }

  private def gifPalette: Array[Byte] = {
    val pal = new Array[Byte](768)
    for (i <- 0 until 256) {
      pal(i * 3) = i.toByte
      pal(i * 3 + 1) = ((i * 5 + 7) % 256).toByte
      pal(i * 3 + 2) = (255 - i).toByte
    }
    pal
  }

  test("GifCodec: LZW round-trips a noisy image (width growth + CLEAR " +
      "reset) and a uniform image (KwKwK)") {
    // 256x128 LCG noise: > 4096 dictionary entries, so codes grow
    // 9->12 bits and the encoder must CLEAR-reset mid-stream
    val (w, h) = (256, 128)
    var seed = 12345L
    val noisy = Array.fill(w * h) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (seed >>> 56).toByte
    }
    val (dw, dh, px, dpal) =
      Multimodal.GifCodec.decode(
        Multimodal.GifCodec.encode(w, h, noisy, gifPalette))
    assert((dw, dh) == (w, h) && px.sameElements(noisy) &&
      dpal.sameElements(gifPalette))
    // uniform run: the decoder hits code == next (KwKwK) immediately
    val flat = Array.fill(16 * 12)(7.toByte)
    val (_, _, px2, _) = Multimodal.GifCodec.decode(
      Multimodal.GifCodec.encode(16, 12, flat, gifPalette))
    assert(px2.sameElements(flat))
  }

  test("GifCodec interops with javax.imageio BOTH ways (a symmetric " +
      "bit-order or code-width bug cannot cancel out)") {
    val (w, h) = (40, 30)
    val idx = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    val pal = gifPalette
    // ours -> ImageIO reader
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.GifCodec.encode(w, h, idx, pal)))
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val i = idx(y * w + x) & 0xff
      val want = 0xff000000 | ((pal(i * 3) & 0xff) << 16) |
        ((pal(i * 3 + 1) & 0xff) << 8) | (pal(i * 3 + 2) & 0xff)
      assert(img.getRGB(x, y) == want, s"pixel ($x,$y)")
    }
    // ImageIO writer -> ours
    val cm = new java.awt.image.IndexColorModel(8, 256,
      Array.tabulate(256)(i => pal(i * 3)),
      Array.tabulate(256)(i => pal(i * 3 + 1)),
      Array.tabulate(256)(i => pal(i * 3 + 2)))
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    for (y <- 0 until h; x <- 0 until w)
      bi.getRaster.setSample(x, y, 0, idx(y * w + x) & 0xff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "gif", bos))
    val (dw, dh, px, dpal) = Multimodal.GifCodec.decode(bos.toByteArray)
    assert((dw, dh) == (w, h))
    for (p <- 0 until w * h) {
      val (got, want) = (px(p) & 0xff, idx(p) & 0xff)
      // palette order may differ in ImageIO's table: compare COLORS
      assert((dpal(got * 3), dpal(got * 3 + 1), dpal(got * 3 + 2)) ==
        (pal(want * 3), pal(want * 3 + 1), pal(want * 3 + 2)),
        s"pixel $p color mismatch")
    }
  }

  test("dctPhash: identical texts collide, a local edit stays near, " +
      "unrelated texts sit far, and bits stay median-balanced") {
    import spark.implicits._
    val base = ("the quick brown fox jumps over the lazy dog " * 25)
      .take(1000)
    val edited = base.updated(99, 'z')
    val other = ("numbers 0123456789 and symbols !@#$%^ repeat " * 25)
      .take(1000)
    val rows = Multimodal.dctPhash(
        Seq((1L, base), (2L, base), (3L, edited), (4L, other))
          .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.doc_id -> r.phash).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(rows(1L), rows(2L)) == 0, "identical must collide")
    assert(ham(rows(1L), rows(3L)) <= 8,
      s"local edit drifted ${ham(rows(1L), rows(3L))} bits")
    assert(ham(rows(1L), rows(4L)) > 8,
      s"unrelated texts too close: ${ham(rows(1L), rows(4L))}")
    // lower-median threshold: at most 31 of 63 coefficients exceed it
    rows.values.foreach(h =>
      assert(java.lang.Long.bitCount(h) <= 31 && (h >>> 63) == 0L,
        s"unbalanced or DC-bit-set hash: ${java.lang.Long.bitCount(h)}"))
  }

  /** Encode RGB through the JDK's own JPEG writer — delegates to the
    * ONE fixture encoder the gates ship (a drifting spec copy would
    * validate different bytes than the gates). */
  private def imageioJpeg(w: Int, h: Int, rgb: Array[Byte],
      quality: Float): Array[Byte] =
    Multimodal.imageioJpegBytes(w, h, rgb, quality)

  private def imageioDecode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    val (w, h) = (img.getWidth, img.getHeight)
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val px = img.getRGB(x, y); val i = (y * w + x) * 3
      rgb(i) = ((px >> 16) & 0xff).toByte
      rgb(i + 1) = ((px >> 8) & 0xff).toByte
      rgb(i + 2) = (px & 0xff).toByte
    }
    (w, h, rgb)
  }

  private def diffStats(a: Array[Byte], b: Array[Byte]): (Int, Double) = {
    require(a.length == b.length)
    var maxD = 0; var sum = 0L
    for (i <- a.indices) {
      val d = math.abs((a(i) & 0xff) - (b(i) & 0xff))
      if (d > maxD) maxD = d
      sum += d
    }
    (maxD, sum.toDouble / a.length)
  }

  test("JpegCodec decodes the JDK encoder's baseline output within " +
      "tight interop bounds (smooth color, sharp grayscale, odd dims)") {
    // smooth color ramps (default writer: YCbCr 4:2:0 — exercises
    // triangular chroma upsampling against libjpeg's)
    for ((w, h) <- Seq((32, 24), (17, 13), (8, 8))) {
      val rgb = Array.tabulate(w * h * 3) { i =>
        val px = i / 3; val x = px % w; val y = px / w
        (i % 3 match {
          case 0 => 32 + (x * 128) / math.max(w - 1, 1)
          case 1 => 32 + (y * 128) / math.max(h - 1, 1)
          case _ => 64 + (x * 64) / math.max(w - 1, 1) +
            (y * 32) / math.max(h - 1, 1)
        }).toByte
      }
      val jpg = imageioJpeg(w, h, rgb, 0.9f)
      val (dw, dh, mine) = Multimodal.JpegCodec.decode(jpg)
      val (iw, ih, ref) = imageioDecode(jpg)
      assert((dw, dh) == (w, h) && (iw, ih) == (w, h))
      val (maxD, meanD) = diffStats(mine, ref)
      assert(maxD <= 4 && meanD <= 1.0,
        s"${w}x$h smooth: maxDiff $maxD meanDiff $meanD vs imageio")
      val (srcMax, srcMean) = diffStats(mine, rgb)
      assert(srcMean <= 4.0,
        s"${w}x$h smooth: decode drifted from source (mean $srcMean, " +
          s"max $srcMax) — the codec is not reconstructing content")
    }
    // block-aligned grayscale checkerboard: flat 8x8 blocks are pure
    // DC — both IDCTs agree to the pixel
    val (w, h) = (32, 32)
    val gray = Array.tabulate(w * h * 3) { i =>
      val px = i / 3; val x = px % w; val y = px / w
      (if (((x / 8) + (y / 8)) % 2 == 0) 64 else 192).toByte
    }
    val jpg = imageioJpeg(w, h, gray, 0.9f)
    val (_, _, mine) = Multimodal.JpegCodec.decode(jpg)
    val (_, _, ref) = imageioDecode(jpg)
    val (maxD, meanD) = diffStats(mine, ref)
    assert(maxD <= 2 && meanD <= 0.5,
      s"checkerboard: maxDiff $maxD meanDiff $meanD vs imageio")
  }

  test("JpegEncoder: the JDK decoder accepts our bytes and both " +
      "decoders reconstruct flat and checkerboard content") {
    val (w, h) = (32, 24)
    val flat = Array.fill(w * h * 3)(128.toByte)
    val checker = Array.tabulate(w * h * 3) { i =>
      val px = i / 3; val x = px % w; val y = px / w
      (if (((x / 8) + (y / 8)) % 2 == 0) 64 else 192).toByte
    }
    for ((src, label, tol) <- Seq((flat, "flat", 1), (checker, "checker", 2))) {
      val jpg = Multimodal.JpegEncoder.encode(w, h, src, 90)
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(jpg))
      assert(ref != null && ref.getWidth == w && ref.getHeight == h,
        s"$label: JDK decoder rejected our stream")
      val (dw, dh, mine) = Multimodal.JpegCodec.decode(jpg)
      assert((dw, dh) == (w, h))
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        val i = (y * w + x) * 3
        val px = ref.getRGB(x, y)
        val rd = Seq((px >> 16) & 0xff, (px >> 8) & 0xff, px & 0xff)(c)
        val sv = src(i + c) & 0xff
        assert(math.abs(rd - sv) <= tol,
          s"$label ($x,$y,$c): jdk=$rd src=$sv")
        assert(math.abs((mine(i + c) & 0xff) - rd) <= 2,
          s"$label ($x,$y,$c): mine=${mine(i + c) & 0xff} jdk=$rd")
      }
    }
    // odd dims exercise edge replication in the encoder's tiles
    val (ow, oh) = (13, 9)
    val odd = Array.tabulate(ow * oh * 3)(i => ((i * 11) % 200).toByte)
    val jpg = Multimodal.JpegEncoder.encode(ow, oh, odd, 90)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(jpg))
    assert(ref.getWidth == ow && ref.getHeight == oh)
    val (dw, dh, _) = Multimodal.JpegCodec.decode(jpg)
    assert((dw, dh) == (ow, oh))
  }

  test("JpegCodec handles restart intervals and rejects truncation " +
      "and non-baseline streams loudly") {
    val (w, h) = (24, 16)
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 13) % 200).toByte)
    val jpg = imageioJpeg(w, h, rgb, 0.85f)
    val (dw, dh, _) = Multimodal.JpegCodec.decode(jpg)
    assert((dw, dh) == (w, h))
    intercept[IllegalArgumentException] {
      Multimodal.JpegCodec.decode("notajpeg".getBytes)
    }
    for (keep <- Seq(2, 20, jpg.length / 2, jpg.length - 3)) {
      val e = intercept[IllegalArgumentException] {
        Multimodal.JpegCodec.decode(jpg.take(keep))
      }
      assert(e.getMessage.contains("truncated") ||
        e.getMessage.contains("corrupt") ||
        e.getMessage.contains("no scan"),
        s"prefix $keep: undiagnostic failure ${e.getMessage}")
    }
  }

  test("GifCodec rejects malformed inputs loudly") {
    val ok = Multimodal.GifCodec.encode(4, 4,
      Array.tabulate(16)(_.toByte), gifPalette)
    intercept[IllegalArgumentException] {
      Multimodal.GifCodec.decode("NOTAGIF!".getBytes ++ ok.drop(8))
    }
    // Truncation anywhere must surface as the decoder's own descriptive
    // require — never an ArrayIndexOutOfBoundsException from trusting a
    // stream offset. Chop at EVERY prefix length to sweep the cursor
    // through header, palette, descriptors, and sub-block walks. (The
    // last prefix is excluded: dropping only the 0x3b trailer still
    // decodes — the pixel stream is complete.)
    for (keep <- 1 until ok.length - 1) {
      val e = intercept[IllegalArgumentException] {
        Multimodal.GifCodec.decode(ok.take(keep))
      }
      assert(e.getMessage.contains("truncated") ||
        e.getMessage.contains("decoded") ||
        e.getMessage.contains("expected image descriptor"),
        s"prefix $keep: undiagnostic failure ${e.getMessage}")
    }
  }

  test("PngCodec: RGB round-trip through cycling filters and CRC checks") {
    val (w, h) = (5, 7)
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    val bytes = Multimodal.PngCodec.encode(w, h, rgb)
    val (dw, dh, back) = Multimodal.PngCodec.decode(bytes)
    assert((dw, dh) == (w, h))
    assert(back.toSeq == rgb.toSeq,
      "decoded pixels differ — unfiltering or stride bug")
    // a flipped IDAT byte must fail the chunk CRC, loudly
    val corrupt = bytes.clone()
    val idatAt = bytes.sliding(4).indexWhere(
      ww => new String(ww.toArray, "US-ASCII") == "IDAT")
    corrupt(idatAt + 6) = (corrupt(idatAt + 6) ^ 0x40).toByte
    intercept[IllegalArgumentException](Multimodal.PngCodec.decode(corrupt))
  }

  test("PngCodec decoder unfilters Average and Paeth rows (filters the " +
      "encoder never emits)") {
    // Hand-filter a 2-wide RGB image with filter 3 (Average) then 4
    // (Paeth), per RFC 2083 §6, and wrap it in spec chunks here in the
    // test — proving the decoder's full filter table, not just the
    // encoder's 0/1/2 subset.
    val w = 2
    val px = Array(10, 200, 30, 90, 60, 250, 5, 15, 25, 35, 45, 55)
    val stride = w * 3
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val raw = new java.io.ByteArrayOutputStream()
    raw.write(3) // row 0: Average (prior row = zeros)
    for (i <- 0 until stride) {
      val a = if (i >= 3) px(i - 3) else 0
      raw.write((px(i) - (a + 0) / 2) & 0xff)
    }
    raw.write(4) // row 1: Paeth
    for (i <- 0 until stride) {
      val a = if (i >= 3) px(stride + i - 3) else 0
      val b = px(i)
      val c = if (i >= 3) px(i - 3) else 0
      raw.write((px(stride + i) - paeth(a, b, c)) & 0xff)
    }
    val d = new java.util.zip.Deflater()
    d.setInput(raw.toByteArray); d.finish()
    val idat = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1024)
    while (!d.finished()) idat.write(buf, 0, d.deflate(buf))
    d.end()
    def chunk(t: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length); bb.put(t.getBytes("US-ASCII")); bb.put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(t.getBytes("US-ASCII")); crc.update(data)
      bb.putInt(crc.getValue.toInt); bb.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(2)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte)
      .put(0.toByte).array()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
    out.write(chunk("IHDR", ihdr))
    out.write(chunk("IDAT", idat.toByteArray))
    out.write(chunk("IEND", Array.empty[Byte]))
    val (dw, dh, rgb) = Multimodal.PngCodec.decode(out.toByteArray)
    assert((dw, dh) == (2, 2))
    assert(rgb.map(_ & 0xff).toSeq == px.toSeq,
      "Average/Paeth unfiltering incorrect")
  }

  test("boxDownsample2x floor-averages each 2x2 block per channel") {
    // 4x2 image: two output pixels; hand-computed means.
    val rgb = Array[Int](
      // row 0: (10,0,0) (20,4,0) (100,8,255) (104,12,3)
      10, 0, 0, 20, 4, 0, 100, 8, 255, 104, 12, 3,
      // row 1: (30,1,0) (43,2,0) (110,16,255) (111,20,2)
      30, 1, 0, 43, 2, 0, 110, 16, 255, 111, 20, 2).map(_.toByte)
    val (ow, oh, ds) = Multimodal.boxDownsample2x(4, 2, rgb)
    assert((ow, oh) == (2, 1))
    // block 1: r=(10+20+30+43)/4=25, g=(0+4+1+2)/4=1, b=0
    // block 2: r=(100+104+110+111)/4=106, g=(8+12+16+20)/4=14,
    //          b=(255+3+255+2)/4=128
    assert(ds.map(_ & 0xff).toSeq == Seq(25, 1, 0, 106, 14, 128))
  }

  test("WavCodec: PCM16 round-trip through a spec-shaped RIFF container") {
    val samples = Array.tabulate(300)(t => ((t * 13) % 200 - 100).toShort)
    val bytes = Multimodal.WavCodec.encode(samples, 8000)
    // container magic where the spec puts it
    assert(new String(bytes.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
    val (rate, back) = Multimodal.WavCodec.decode(bytes)
    assert(rate == 8000)
    assert(back.toSeq == samples.toSeq,
      "decoded samples differ from encoded — chunk walk or endianness bug")
  }

  test("WavCodec decode honors the pad-byte rule on an odd-length fmt " +
      "chunk (RIFF-legal cbSize extension)") {
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + 18 + 8 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(4 + 8 + 18 + 8 + 4)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(17) // ODD length
    bb.putShort(1); bb.putShort(1) // PCM, mono
    bb.putInt(8000); bb.putInt(16000); bb.putShort(2); bb.putShort(16)
    bb.put(0.toByte) // 1-byte extension (the odd 17th byte)
    bb.put(0.toByte) // spec pad byte — NOT part of the chunk length
    bb.put("data".getBytes("US-ASCII")); bb.putInt(4)
    bb.putShort(1234); bb.putShort(-42)
    val (rate, samples) = Multimodal.WavCodec.decode(bb.array())
    assert(rate == 8000 && samples.toSeq == Seq(1234.toShort, (-42).toShort),
      "odd fmt chunk misaligned the walk — pad byte not honored")
  }

  test("WavCodec decode rejects corrupt containers loudly") {
    val good = Multimodal.WavCodec.encode(Array[Short](1, 2, 3), 8000)
    // not RIFF
    intercept[IllegalArgumentException](
      Multimodal.WavCodec.decode("JUNKJUNKJUNK".getBytes("US-ASCII")))
    // RIFF but data chunk renamed away
    val noData = good.clone()
    val dataAt = good.sliding(4).indexWhere(
      w => new String(w.toArray, "US-ASCII") == "data")
    noData(dataAt) = 'x'.toByte
    intercept[IllegalArgumentException](Multimodal.WavCodec.decode(noData))
    // stereo/wrong-format fmt chunk rejected
    val stereo = good.clone()
    val fmtAt = good.sliding(4).indexWhere(
      w => new String(w.toArray, "US-ASCII") == "fmt ")
    stereo(fmtAt + 10) = 2 // channels LE16 at fmt body offset 2
    intercept[IllegalArgumentException](Multimodal.WavCodec.decode(stereo))
  }

  test("stripAncillary drops metadata chunks, preserves pixels, idempotent") {
    val rgb = Array.tabulate(2 * 2 * 3)(i => (i * 37 % 256).toByte)
    val png = Multimodal.PngCodec.encode(2, 2, rgb)
    val tagged = Multimodal.PngCodec.withMeta(png, Seq(
      "tEXt" -> "Author someone".getBytes("US-ASCII"),
      "eXIf" -> Array.fill(4)(9.toByte)))
    assert(Multimodal.PngCodec.chunkList(tagged).map(_._1) ==
      List("IHDR", "tEXt", "eXIf", "IDAT", "IEND"))
    val stripped = Multimodal.PngCodec.stripAncillary(tagged)
    assert(Multimodal.PngCodec.chunkList(stripped).map(_._1) ==
      List("IHDR", "IDAT", "IEND"))
    // pixels byte-identical, strip idempotent
    val (_, _, out) = Multimodal.PngCodec.decode(stripped)
    assert(out.toSeq == rgb.toSeq)
    assert(Multimodal.PngCodec.stripAncillary(stripped).toSeq ==
      stripped.toSeq)
    // a corrupted metadata CRC fails the walk loudly, not silently
    val bad = tagged.clone()
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 0x1).toByte
    intercept[IllegalArgumentException](
      Multimodal.PngCodec.stripAncillary(bad))
  }

  test("energy fingerprint sets exactly the rising-energy bits") {
    // 256 samples in 32 frames of 8; amplitude grows per frame →
    // all 31 delta bits set; constant amplitude → none.
    val rising = Array.tabulate(256)(t => ((t / 8 + 1) * 10).toShort)
    assert(Multimodal.energyFingerprint(rising) == (1L << 31) - 1)
    val flat = Array.fill(256)(100.toShort)
    assert(Multimodal.energyFingerprint(flat) == 0L)
    // one dip at frame 5: bit 4 (E5 < E4... falling) clears, bit 5
    // (E6 > E5) stays — the strict-> rule on a hand-built shape
    val dip = rising.clone()
    (40 until 48).foreach(i => dip(i) = 1.toShort)
    val fp = Multimodal.energyFingerprint(dip)
    assert((fp & (1L << 4)) == 0L && (fp & (1L << 5)) != 0L)
  }
}
