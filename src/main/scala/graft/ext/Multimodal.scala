package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.Tables.{load => t}

/** Multimodal columns (EXT, SURVEY §2.12 E5): media as opaque binary
  * with typed metadata, and `array<float>` embeddings flowing through
  * the relational operators unchanged.
  *
  * The decode step (image/audio → pixels/samples) is STUBBED — the
  * container has no media libraries — with a clearly-marked
  * deterministic fake. The Spark-side plumbing (schema, batching,
  * partition-parallel extraction, downstream joins/aggs over the
  * features) is real and oracle-tested.
  */
object Multimodal {

  /** Byte length / digest / head bytes of a binary column — the typed
    * metadata every media column carries. */
  def binaryMeta(bin: Column): Seq[Column] = Seq(
    length(bin).as("n_bytes"),
    md5(bin).as("digest"),
    upper(hex(substring(bin, 1, 8))).as("head8"))

  /** STUB media decoder: a real pipeline would decode pixels/samples
    * here (e.g. via a vectorized UDF batching rows per partition). This
    * deterministic fake derives `dim` floats in [0,1) from seeded hashes
    * of the bytes, preserving the exact schema and distribution shape a
    * real extractor produces: binary → array<float>, map-only. */
  def fakeDecodeFeatures(bin: Column, dim: Int): Column =
    transform(sequence(lit(1), lit(dim)),
      i => (pmod(xxhash64(bin, i), lit(1000000)).cast("double") / 1000000.0)
        .cast("float"))

  /** Typed record for the batched decode path. */
  final case class MediaFeatures(doc_id: Long, n_bytes: Int,
      features: Array[Float])

  /** Partition-batched media decode — the Scala analogue of a vectorized
    * (mapInPandas-style) decode UDF: rows stream through mapPartitions
    * so a real codec would amortize its init (model load, decoder
    * context) once per partition and process in batches. The codec
    * itself is STUBBED (no media libs in this container) with the same
    * deterministic fake as [[fakeDecodeFeatures]]; the schema, batch
    * iteration, and partition-parallel shape are the real thing. */
  def decodePartitioned(df: DataFrame, idCol: String, binCol: String,
      dim: Int): Dataset[MediaFeatures] = {
    import df.sparkSession.implicits._
    Tables.spread(
        df.select(col(idCol).cast("long"), col(binCol).cast("binary")))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition init happens HERE in a real decoder (once, not per row)
        val decoderCtx = new StubDecoder(dim)
        rows.map { case (id, bytes) =>
          MediaFeatures(id, bytes.length, decoderCtx.decode(bytes))
        }
      }
  }

  /** STUB decoder: a real one wraps libjpeg/ffmpeg/an ONNX encoder.
    * Deterministic fake — features derived from byte content. */
  private final class StubDecoder(dim: Int) extends Serializable {
    def decode(bytes: Array[Byte]): Array[Float] = {
      val out = new Array[Float](dim)
      var h = 1125899906842597L
      var i = 0
      while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
      var j = 0
      while (j < dim) {
        // splitmix64 avalanche so trailing-byte differences reach all bits
        var v = h + (j + 1) * 0x9e3779b97f4a7c15L
        v = (v ^ (v >>> 30)) * 0xbf58476d1ce4e5b9L
        v = (v ^ (v >>> 27)) * 0x94d049bb133111ebL
        v ^= v >>> 31
        out(j) = ((v >>> 40) % 1000000L).toFloat / 1000000f
        j += 1
      }
      out
    }
  }

  /** REAL image decode for the one format that needs no codec library:
    * binary PPM (P6 — "P6\n<w> <h>\n<maxval>\n" header, then raw RGB
    * bytes). Pure-JVM parser, so unlike the stubbed codec paths this
    * one decodes actual pixels and is value-level oracle-checked. */
  final case class PpmStats(doc_id: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  private[ext] object PpmParser extends Serializable {
    /** Parse a P6 header → (width, height, pixel-data offset). Fails
      * loudly on anything that is not an 8-bit P6 image. */
    def header(b: Array[Byte]): (Int, Int, Int) = {
      require(b.length >= 2 && b(0) == 'P' && b(1) == '6', "not a P6 PPM")
      var i = 2
      def isWs(c: Byte) = c == ' ' || c == '\n' || c == '\r' || c == '\t'
      def nextInt(): Int = {
        while (i < b.length && (isWs(b(i)) || b(i) == '#'))
          if (b(i) == '#') { while (i < b.length && b(i) != '\n') i += 1 }
          else i += 1
        var v = 0
        while (i < b.length && b(i) >= '0' && b(i) <= '9') {
          v = v * 10 + (b(i) - '0'); i += 1
        }
        v
      }
      val w = nextInt(); val h = nextInt(); val maxval = nextInt()
      require(w > 0 && h > 0, s"bad dimensions ${w}x$h") // nextInt's 0 = no digits
      require(maxval == 255, s"unsupported maxval $maxval")
      require(i < b.length && isWs(b(i)),
        "maxval must be followed by a single whitespace byte")
      i += 1 // the single whitespace byte separating header from pixels
      (w, h, i)
    }
  }

  /** Partition-batched REAL PPM decode: parses each image's header and
    * averages the R/G/B channels over its pixels. Same mapPartitions
    * shape as [[decodePartitioned]] — at scale the parser/codec context
    * initializes once per partition and rows stream through. */
  def decodePpm(df: DataFrame, idCol: String, binCol: String): Dataset[PpmStats] = {
    import df.sparkSession.implicits._
    Tables.spread(
        df.select(col(idCol).cast("long"), col(binCol).cast("binary")))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        def round4(x: Double): Double =
          BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        rows.map { case (id, bytes) =>
          val (w, h, off) = PpmParser.header(bytes)
          val n = w * h
          // EXACT length: a mis-parsed offset (e.g. stray bytes between
          // header and pixels) must fail loudly, never average garbage
          require(bytes.length == off + 3 * n,
            s"pixel payload ${bytes.length - off} bytes, expected ${3 * n}")
          var sr = 0L; var sg = 0L; var sb = 0L
          var j = 0
          while (j < n) {
            sr += bytes(off + 3 * j) & 0xff
            sg += bytes(off + 3 * j + 1) & 0xff
            sb += bytes(off + 3 * j + 2) & 0xff
            j += 1
          }
          PpmStats(id, w, h,
            round4(sr.toDouble / n), round4(sg.toDouble / n),
            round4(sb.toDouble / n))
        }
      }
  }

  /** Typed record for the decoded-feature path. */
  final case class PpmRowFeatures(doc_id: Long, v: Array[Double])

  /** REAL feature extraction from decoded pixels: one feature per image
    * row (the mean of that row's 3·w channel bytes) — a genuine
    * pixels→vector encoder, not a stub, so the whole
    * multimodal→similarity pipeline is value-level checkable. Same
    * mapPartitions batching as the other decoders. */
  def decodePpmRowFeatures(df: DataFrame, idCol: String,
      binCol: String): Dataset[PpmRowFeatures] = {
    import df.sparkSession.implicits._
    Tables.spread(
        df.select(col(idCol).cast("long"), col(binCol).cast("binary")))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val (w, h, off) = PpmParser.header(bytes)
          require(bytes.length == off + 3 * w * h,
            s"pixel payload ${bytes.length - off} bytes, expected ${3 * w * h}")
          val v = new Array[Double](h)
          var r = 0
          while (r < h) {
            var sum = 0L
            var j = 0
            while (j < 3 * w) {
              sum += bytes(off + r * 3 * w + j) & 0xff
              j += 1
            }
            v(r) = sum.toDouble / (3 * w)
            r += 1
          }
          PpmRowFeatures(id, v)
        }
      }
  }

  /** Typed record for the perceptual-hash path. */
  final case class PhashRow(doc_id: Long, phash: Long)

  /** REAL perceptual average-hash (aHash) over decoded P6 pixels. The
    * classic recipe downscales to 8×8 then thresholds each cell
    * against the mean — these images ARE 8×8, so the grid is the
    * image: bit i = (64·sᵢ > Σs) where sᵢ is pixel i's integer
    * r+g+b sum. Pure integer arithmetic end to end, so the 64-bit
    * fingerprint is engine- and partitioning-deterministic. Same
    * mapPartitions batching as the other decoders (codec init
    * amortizes per partition). */
  def ppmAHash(df: DataFrame, idCol: String,
      binCol: String): Dataset[PhashRow] = {
    import df.sparkSession.implicits._
    Tables.spread(
        df.select(col(idCol).cast("long"), col(binCol).cast("binary")))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val (w, h, off) = PpmParser.header(bytes)
          val n = w * h
          require(n == 64, s"aHash grid expects 8x8, got ${w}x$h")
          require(bytes.length == off + 3 * n,
            s"pixel payload ${bytes.length - off} bytes, expected ${3 * n}")
          val s = new Array[Long](n)
          var tot = 0L
          var i = 0
          while (i < n) {
            s(i) = (bytes(off + 3 * i) & 0xff) +
              (bytes(off + 3 * i + 1) & 0xff) +
              (bytes(off + 3 * i + 2) & 0xff)
            tot += s(i)
            i += 1
          }
          var hash = 0L
          i = 0
          while (i < n) {
            if (64L * s(i) > tot) hash |= (1L << i)
            i += 1
          }
          PhashRow(id, hash)
        }
      }
  }

  final case class DctHashRow(doc_id: Long, phash: Long)

  /** DCT perceptual hash — the published pHash standard (Zauner 2010,
    * phash.org), upgrading [[ppmAHash]]'s per-pixel-vs-mean bits:
    * 32×32 grayscale (the text's ASCII bytes, constant-padded — a
    * localized edit touches ONE pixel, not a cycled smear), 2-D
    * DCT-II, keep the 8×8 lowest-frequency block, drop DC, threshold
    * the 63 remaining coefficients against their lower median →
    * 63-bit hash (bit 63 unused). Coefficient bits encode shape at
    * multiple scales, so a local change flips few bits (measured:
    * planted 1-char edits land at Hamming 0-8 for ~99.8% of plants at
    * both gate SFs). The DCT doubles never cross the engine boundary
    * — the hash is engine-specific and its gate is a self-check. */
  def dctPhash(df: DataFrame, idCol: String,
      textCol: String): Dataset[DctHashRow] = {
    import df.sparkSession.implicits._
    Tables.spread(
        df.select(col(idCol).cast("long"),
          coalesce(col(textCol), lit(""))))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val n = 32
        val cosT = Array.tabulate(8, n)((u, x) =>
          math.cos(math.Pi * (2 * x + 1) * u / (2.0 * n)))
        rows.map { case (id, text) =>
          val p = new Array[Double](n * n)
          var i = 0
          while (i < n * n) {
            p(i) =
              if (i < text.length) {
                val c = text.charAt(i).toInt
                if (c < 128) c.toDouble else 63.0
              } else 32.0
            i += 1
          }
          DctHashRow(id, phash64(p, n, cosT))
        }
      }
  }

  /** The pHash core shared by [[dctPhash]] (text-as-plane) and the
    * real-image e5_jpeg_phash path: 2-D DCT-II of an n×n plane, keep
    * the 8×8 low-frequency block minus DC (63 coefficients), threshold
    * at the lower median (Zauner's published construction). `cosT` is
    * the caller-precomputed cos(π(2x+1)u / 2n) table. */
  private[ext] def phash64(p: Array[Double], n: Int,
      cosT: Array[Array[Double]]): Long = {
    // separable DCT: tmp(u)(y) = Σ_x p(y,x)·cos(u,x)
    val tmp = Array.ofDim[Double](8, n)
    var u = 0
    while (u < 8) {
      var y = 0
      while (y < n) {
        var s = 0.0; var x = 0
        while (x < n) { s += p(y * n + x) * cosT(u)(x); x += 1 }
        tmp(u)(y) = s; y += 1
      }
      u += 1
    }
    val vals = new Array[Double](63)
    var k = 0
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        if (u != 0 || v != 0) {
          var s = 0.0; var y = 0
          while (y < n) { s += tmp(u)(y) * cosT(v)(y); y += 1 }
          vals(k) = s; k += 1
        }
        v += 1
      }
      u += 1
    }
    val sorted = vals.clone()
    java.util.Arrays.sort(sorted)
    val med = sorted(31) // lower median of 63
    var h = 0L
    var i = 0
    while (i < 63) { if (vals(i) > med) h |= 1L << i; i += 1 }
    h
  }

  /** Typed record for one sampled video frame. */
  final case class FrameStats(doc_id: Long, frame_idx: Int,
      mean_b: Double, max_b: Int)

  /** Video frame sampling with REAL binary plumbing — the training-
    * pipeline shape for clip ingestion: a fixed-layout binary "video"
    * (`nFrames` frames × `frameBytes` bytes, zero-padded) streams
    * through mapPartitions, every `stride`-th frame is sliced out (a
    * real sampler keyframe-picks; the slice arithmetic, batching, and
    * per-partition decoder-init site are the real thing), and each
    * sampled frame emits per-frame byte statistics. Map-only with a
    * bounded ≤ nFrames/stride fan-out per row — at 100 TB this is one
    * pass, no shuffle until the caller's rollup.
    *
    * The downstream scene-cut signal (|Δ mean| between consecutive
    * sampled frames) is left to the caller's window — see
    * [[Multimodal.queries e5_frame_sample]]. */
  def frameSample(df: DataFrame, idCol: String, binCol: String,
      frameBytes: Int, nFrames: Int, stride: Int): Dataset[FrameStats] = {
    import df.sparkSession.implicits._
    Tables.spread(
        df.select(col(idCol).cast("long"), col(binCol).cast("binary")))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // a real decoder opens its codec context HERE, once per partition
        rows.flatMap { case (id, bytes) =>
          (0 until nFrames by stride).iterator.map { f =>
            var sum = 0L
            var max = 0
            var i = f * frameBytes
            val end = i + frameBytes
            while (i < end) {
              val b = if (i < bytes.length) bytes(i) & 0xff else 0
              sum += b
              if (b > max) max = b
              i += 1
            }
            // frameBytes is a power of two ⇒ the mean is exact in
            // doubles and the 4-decimal round is engine-stable
            FrameStats(id, f, sum.toDouble / frameBytes, max)
          }
        }
      }
  }

  // ------------------------------------------------------------ queries

  /** Byte/char equivalence guard for the oracle-shared byte queries:
    * Spark's `cast("binary")` yields UTF-8 BYTES while DuckDB's
    * strlen/substr/ord count CHARACTERS — identical only for pure-ASCII
    * text. Both engines therefore compute over an explicitly
    * ASCII-stripped projection (a no-op on today's corpus), so a future
    * non-ASCII document cannot silently diverge the gate. NULL passes
    * through (regexp_replace(NULL) is NULL on both engines). */
  private def asciiOnly(c: Column): Column =
    regexp_replace(c, "[^\\x00-\\x7F]", "")

  /** E5: binary passthrough — text bytes as an opaque binary column with
    * derived metadata (the oracle recomputes digests over the same
    * bytes). */
  private val e5BinaryMeta: Q = (s, dir) => {
    val bin = asciiOnly(col("text")).cast("binary")
    t(s, dir, "documents")
      .select(col("doc_id") +: binaryMeta(bin): _*)
      .orderBy(col("doc_id"))
  }

  /** E5b: `array<float>` through join + aggregation — embeddings joined
    * to document metadata, per (label, lang) squared-norm averages. The
    * vector column survives the join shuffle intact. */
  private val e5VectorJoin: Q = (s, dir) => {
    val v = transform(col("embedding"), _.cast("double"))
    val normSq = graft.functions.VecDot.vecDot(v, v)
    t(s, dir, "embeddings")
      .join(t(s, dir, "documents"), col("vec_id") === col("doc_id"))
      .groupBy(col("label"), col("lang"))
      .agg(count(lit(1)).as("n"),
        round(avg(normSq), 4).as("avg_norm_sq"))
      .orderBy(col("label"), col("lang"))
  }

  /** E5c: the batched decode path through the oracle gate — features
    * are stub-generated (not oracle-checkable) but id preservation and
    * byte accounting through mapPartitions are. */
  private val e5DecodeBatch: Q = (s, dir) =>
    decodePartitioned(
      t(s, dir, "documents")
        .withColumn("bin", asciiOnly(col("text")).cast("binary")),
      "doc_id", "bin", dim = 8)
      .toDF()
      .select(col("doc_id"), col("n_bytes"))
      .orderBy(col("doc_id"))

  /** E5d: REAL decode through the gate — 8×8 P6 images are constructed
    * from each document's bytes (zero-padded to 192 pixel bytes), the
    * pure-JVM parser decodes them, and DuckDB recomputes the channel
    * means from the same byte construction — a value-level oracle on
    * actual decoded pixels, not a stub. */
  // coalesce: a NULL text zero-pads to an all-zero image, matching
  // the oracle's CASE … ELSE 0 (a null binary would instead NPE the
  // decoder — engine divergence on a nullable column)
  private def ppmImage: Column = concat(
    lit("P6\n8 8\n255\n".getBytes("UTF-8")),
    rpad(substring(asciiOnly(coalesce(col("text"), lit("")))
        .cast("binary"), 1, 192),
      192, Array[Byte](0)))

  private val e5PpmDecode: Q = (s, dir) =>
    decodePpm(
      t(s, dir, "documents").withColumn("img", ppmImage), "doc_id", "img")
      .toDF()
      .orderBy(col("doc_id"))

  /** E5e: the full multimodal→similarity pipeline on REAL decoded
    * pixels — construct 8×8 P6 images, decode, extract one feature per
    * image row (row-mean luminance over the 24 channel bytes), cosine
    * top-3 for the first 5 docs. DuckDB recomputes features from the
    * same byte construction and re-ranks, so the decoder, the encoder,
    * and the search are all value-level gated end to end. Integer byte
    * sums divide exactly in doubles, so feature arithmetic is
    * bit-identical across engines. */
  private val e5Pipeline: Q = (s, dir) => {
    val feats = decodePpmRowFeatures(
      t(s, dir, "documents").withColumn("img", ppmImage),
      "doc_id", "img").toDF()
    val withN = feats.withColumn("nrm",
      sqrt(graft.functions.VecDot.vecDot(col("v"), col("v"))))
    val q = withN.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val c = withN.select(col("doc_id").as("c_id"), col("v").as("cv"),
      col("nrm").as("cn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cos", graft.functions.VecDot.vecDot(col("qv"), col("cv"))
        / (col("qn") * col("cn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("rnk"), col("c_id"),
        round(col("cos"), 6).as("sim"))
      .orderBy(col("q_id"), col("rnk"))
  }

  // ------------------------------------------------ audio spectral features

  final case class AudioFeatures(id: Long, n_samples: Int,
      dominant_bin: Int, band_low: Double, band_high: Double,
      parseval_err: Double)

  private val AudioN = 256 // samples per synthetic clip

  /** Deterministic PCM synth: a strong tone at bin (id % 100 + 3) plus
    * a weaker second harmonic, float64 samples packed to a BINARY
    * column — the audio-file stand-in (a real pipeline lands WAV/FLAC
    * bytes here; the byte-column plumbing is identical). */
  def synthPcm(df: DataFrame, idCol: String): DataFrame = {
    import df.sparkSession.implicits._
    Tables.spread(df.select(col(idCol).cast("long")))
      .as[Long].mapPartitions { ids =>
      ids.map { id =>
        val k = (id % 100 + 3).toInt
        val bb = java.nio.ByteBuffer.allocate(AudioN * 8)
        (0 until AudioN).foreach { t =>
          bb.putDouble(0.6 * math.sin(2 * math.Pi * k * t / AudioN) +
            0.25 * math.sin(2 * math.Pi * (2 * k) * t / AudioN))
        }
        (id, bb.array())
      }
    }.toDF("id", "wav")
  }

  /** Partition-batched spectral feature extraction: decode the byte
    * column back to samples, run an O(N²) DFT per clip (a real codec +
    * FFT would init once per partition — same shape), emit dominant
    * bin, low/high band energies, and the Parseval residual
    * |Σx² − (1/N)Σ|X|²| / Σx². Map-only over partitions; no shuffle. */
  def spectralFeatures(df: DataFrame, idCol: String,
      wavCol: String): Dataset[AudioFeatures] = {
    import df.sparkSession.implicits._
    Tables.spread(
        df.select(col(idCol).cast("long"), col(wavCol).cast("binary")))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val bb = java.nio.ByteBuffer.wrap(bytes)
          val n = bytes.length / 8
          val x = Array.fill(n)(bb.getDouble())
          dftFeatures(id, x)
        }
      }
  }

  /** The per-clip DFT feature kernel shared by the float64 path
    * ([[spectralFeatures]]) and the decoded-WAV path (e5_wav_spectral):
    * O(N²) DFT → dominant bin, band energies, Parseval residual. */
  private[ext] def dftFeatures(id: Long, x: Array[Double]): AudioFeatures = {
    val n = x.length
    val power = Array.tabulate(n) { kk =>
      var re = 0.0; var im = 0.0; var t = 0
      while (t < n) {
        val a = 2 * math.Pi * kk * t / n
        re += x(t) * math.cos(a); im -= x(t) * math.sin(a); t += 1
      }
      re * re + im * im
    }
    val timeE = x.map(v => v * v).sum
    val freqE = power.sum / n
    val dominant = (1 until n / 2).maxBy(power)
    val (lo, hi) = power.slice(1, n / 4).sum -> power.slice(n / 4, n / 2).sum
    AudioFeatures(id, n, dominant,
      math.rint(lo * 1e4) / 1e4, math.rint(hi * 1e4) / 1e4,
      math.abs(timeE - freqE) / timeE)
  }

  // ------------------------------------------------ real PNG (zlib/IDAT)

  /** Pure-JVM PNG codec for 8-bit/channel RGB (color type 2,
    * non-interlaced) — a REAL decode of the most common image container
    * on the web, possible without any media library because the JDK
    * ships the two hard parts: zlib (`java.util.zip.Inflater`/
    * `Deflater` — IDAT is a zlib stream) and CRC32 (per-chunk
    * integrity). The decoder walks chunks verifying each CRC,
    * concatenates IDAT payloads, inflates, and UNFILTERS scanlines —
    * all five spec filters (None/Sub/Up/Average/Paeth) implemented;
    * the encoder deliberately CYCLES filters 0/1/2 per row so a
    * decoder that ignored filter bytes (the classic shortcut) produces
    * garbage and hash-fails the value-level gate. */
  private[ext] object PngCodec extends Serializable {
    private val Sig = Array[Byte](0x89.toByte, 'P', 'N', 'G',
      0x0d, 0x0a, 0x1a, 0x0a)

    private def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length) // big-endian
      bb.putInt(data.length)
      bb.put(tpe.getBytes("US-ASCII")); bb.put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tpe.getBytes("US-ASCII")); crc.update(data)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }

    /** Encode an RGB image (row-major, 3 bytes/pixel) as a spec-valid
      * PNG, cycling scanline filters None/Sub/Up to exercise the
      * decoder's unfiltering. */
    def encode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == w * h * 3, "rgb length != w*h*3")
      val stride = w * 3
      val raw = new java.io.ByteArrayOutputStream()
      for (y <- 0 until h) {
        val f = y % 3 // 0=None, 1=Sub, 2=Up
        raw.write(f)
        for (i <- 0 until stride) {
          val cur = rgb(y * stride + i) & 0xff
          val v = f match {
            case 0 => cur
            case 1 => cur - (if (i >= 3) rgb(y * stride + i - 3) & 0xff else 0)
            case 2 => cur - (if (y > 0) rgb((y - 1) * stride + i) & 0xff else 0)
          }
          raw.write(v & 0xff)
        }
      }
      val d = new java.util.zip.Deflater()
      d.setInput(raw.toByteArray); d.finish()
      val idat = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) idat.write(buf, 0, d.deflate(buf))
      d.end()
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(w).putInt(h)
        .put(8.toByte)  // bit depth
        .put(2.toByte)  // color type: truecolor RGB
        .put(0.toByte).put(0.toByte).put(0.toByte) // deflate/adaptive/none
        .array()
      val out = new java.io.ByteArrayOutputStream()
      out.write(Sig)
      out.write(chunk("IHDR", ihdr))
      out.write(chunk("IDAT", idat.toByteArray))
      out.write(chunk("IEND", Array.empty[Byte]))
      out.toByteArray
    }

    /** Walk a PNG into (type, payload) chunks, verifying every CRC. */
    def chunkList(bytes: Array[Byte]): List[(String, Array[Byte])] = {
      require(bytes.length > 8 && bytes.take(8).sameElements(Sig),
        "not a PNG (bad signature)")
      val bb = java.nio.ByteBuffer.wrap(bytes, 8, bytes.length - 8)
      val out = scala.collection.mutable.ListBuffer[(String, Array[Byte])]()
      var done = false
      while (!done) {
        val len = bb.getInt
        val tpe = new Array[Byte](4); bb.get(tpe)
        val data = new Array[Byte](len); bb.get(data)
        val crc = bb.getInt
        val c = new java.util.zip.CRC32(); c.update(tpe); c.update(data)
        require(c.getValue.toInt == crc,
          s"CRC mismatch in ${new String(tpe, "US-ASCII")}")
        val t = new String(tpe, "US-ASCII")
        out += ((t, data))
        if (t == "IEND") done = true
      }
      out.toList
    }

    /** The chunk types a stripped image keeps — everything else
      * (tEXt/zTXt/iTXt author strings, eXIf blocks with GPS
      * coordinates, tIME, pHYs, …) is metadata a training corpus must
      * not carry. */
    val Critical = Set("IHDR", "PLTE", "IDAT", "IEND")

    /** Drop every ancillary chunk, re-emitting the critical ones with
      * fresh CRCs — pixels untouched by construction (IDAT passes
      * through byte-identical). */
    def stripAncillary(bytes: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Sig)
      chunkList(bytes).foreach { case (t, d) =>
        if (Critical(t)) out.write(chunk(t, d))
      }
      out.toByteArray
    }

    /** Fixture builder: insert metadata chunks right after IHDR (the
      * spec position for tEXt/eXIf). */
    def withMeta(bytes: Array[Byte],
        metas: Seq[(String, Array[Byte])]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Sig)
      chunkList(bytes).foreach { case (t, d) =>
        out.write(chunk(t, d))
        if (t == "IHDR")
          metas.foreach { case (mt, md) => out.write(chunk(mt, md)) }
      }
      out.toByteArray
    }

    /** PNG spec Paeth predictor (RFC 2083 §6.6). */
    private def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    /** Decode an 8-bit RGB non-interlaced PNG → (w, h, rgb bytes).
      * Verifies the signature and every chunk CRC; fails loudly on
      * unsupported color types — corrupt training images must be
      * rejected at decode, not zero-filled. */
    def decode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
      require(bytes.length > 8 && bytes.take(8).sameElements(Sig),
        "not a PNG (bad signature)")
      val bb = java.nio.ByteBuffer.wrap(bytes, 8, bytes.length - 8)
      var w = -1; var h = -1
      val idat = new java.io.ByteArrayOutputStream()
      var done = false
      while (!done) {
        val len = bb.getInt
        val tpe = new Array[Byte](4); bb.get(tpe)
        val data = new Array[Byte](len); bb.get(data)
        val crc = new java.util.zip.CRC32()
        crc.update(tpe); crc.update(data)
        require(bb.getInt == crc.getValue.toInt,
          s"CRC mismatch in ${new String(tpe, "US-ASCII")} chunk")
        new String(tpe, "US-ASCII") match {
          case "IHDR" =>
            val ib = java.nio.ByteBuffer.wrap(data)
            w = ib.getInt; h = ib.getInt
            val (depth, color, il) = (ib.get(), ib.get(), { ib.get(); ib.get(); ib.get() })
            require(depth == 8 && color == 2 && il == 0,
              s"unsupported PNG: depth=$depth color=$color interlace=$il")
          case "IDAT" => idat.write(data)
          case "IEND" => done = true
          case _ => // ancillary chunk (tEXt, pHYs, …): skip
        }
      }
      require(w > 0 && h > 0 && idat.size() > 0, "missing IHDR/IDAT")
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.toByteArray)
      val stride = w * 3
      val raw = new Array[Byte]((stride + 1) * h)
      var off = 0
      var stalled = false
      while (!inf.finished() && off < raw.length && !stalled) {
        val n = inf.inflate(raw, off, raw.length - off)
        // inflate()==0 with the full IDAT already provided means the
        // deflate stream ended short of IHDR's h×stride promise
        // (truncated file with recomputed CRCs) — fail loudly below
        // instead of spinning forever waiting for input that will
        // never come.
        if (n == 0) stalled = true else off += n
      }
      inf.end()
      require(off == raw.length, s"inflated $off of ${raw.length} bytes")
      val out = new Array[Byte](stride * h)
      for (y <- 0 until h) {
        val f = raw((stride + 1) * y) & 0xff
        for (i <- 0 until stride) {
          val x = raw((stride + 1) * y + 1 + i) & 0xff
          val a = if (i >= 3) out(y * stride + i - 3) & 0xff else 0
          val b = if (y > 0) out((y - 1) * stride + i) & 0xff else 0
          val c = if (i >= 3 && y > 0) out((y - 1) * stride + i - 3) & 0xff
            else 0
          val v = f match {
            case 0 => x
            case 1 => x + a
            case 2 => x + b
            case 3 => x + (a + b) / 2
            case 4 => x + paeth(a, b, c)
            case other => sys.error(s"bad filter byte $other")
          }
          out(y * stride + i) = (v & 0xff).toByte
        }
      }
      (w, h, out)
    }
  }

  final case class PngStats(doc_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long, n_px: Int)

  /** The deterministic synth image e5_png_decode AND e5_resize_box
    * build (one definition so the two fixtures — and their DuckDB
    * restatements of the same three channel formulas — can never
    * drift apart). */
  private def synthRgb(id: Long, w: Int, h: Int): Array[Byte] = {
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      rgb(i) = (((x * 7 + y * 3) + id) % 256).toByte
      rgb(i + 1) = (((x * 11 + y * 5) + id * 2) % 256).toByte
      rgb(i + 2) = ((x * y + id * 3) % 256).toByte
    }
    rgb
  }

  /** E5k: REAL PNG decode under a VALUE-LEVEL oracle — per document a
    * deterministic 16×12 RGB image (integer pixel formula) is encoded
    * as a spec-valid PNG (zlib IDAT, per-chunk CRCs, filters cycling
    * None/Sub/Up) and decoded back through the full chunk-walk →
    * inflate → unfilter path; the decoded channel sums must equal
    * DuckDB's restatement of the pixel formula. A filter-byte skip, a
    * channel swap at one end, a stride off-by-one, or a truncated
    * inflate all corrupt the sums and hash-fail. */
  private val e5PngDecode: Q = (s, dir) => {
    import s.implicits._
    val (w, h) = (16, 12)
    val decoded = t(s, dir, "documents")
      .select(col("doc_id")).transform(Tables.spread)
      .as[Long].mapPartitions { ids =>
        ids.map(id => (id, PngCodec.encode(w, h, synthRgb(id, w, h))))
      }.toDF("doc_id", "png")
      .as[(Long, Array[Byte])].mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val (dw, dh, rgb) = PngCodec.decode(bytes)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var i = 0
          while (i < rgb.length) {
            sr += rgb(i) & 0xff; sg += rgb(i + 1) & 0xff
            sb += rgb(i + 2) & 0xff; i += 3
          }
          PngStats(id, dw, dh, sr, sg, sb, dw * dh)
        }
      }
    decoded.toDF().orderBy(col("doc_id"))
  }

  final case class MetaStripStats(doc_id: Long, n_before: Long,
      n_after: Long, bytes_removed: Long, residual_meta: Long,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** E5o: image METADATA SCRUBBING — the multimodal twin of PII
    * redaction: web images carry tEXt author strings, eXIf blocks
    * (camera serials, GPS coordinates), and timestamps that a training
    * corpus must not memorize. Each doc's synth image is wrapped with
    * a tEXt Author record, a 16-byte eXIf stand-in, and a tIME chunk;
    * the scrubber walks chunks (verifying every CRC) and re-emits only
    * the critical set — map-only, pixels pass through byte-identical.
    * Value gates per image: chunk counts before/after (6 → 3), the
    * EXACT byte mass removed (the tEXt payload length depends on the
    * doc_id's digit count — the oracle restates it as 70 +
    * len(doc_id)), zero residual ancillary chunks, and the decoded
    * channel sums of the SCRUBBED image equal to the synth formula
    * (scrubbing must not touch a pixel). */
  private val e5MetaStrip: Q = (s, dir) => {
    import s.implicits._
    val (w, h) = (16, 12)
    t(s, dir, "documents")
      .select(col("doc_id")).transform(Tables.spread)
      .as[Long].mapPartitions { ids =>
        ids.map { id =>
          val png = PngCodec.encode(w, h, synthRgb(id, w, h))
          val metas = Seq(
            "tEXt" -> ("Author".getBytes("US-ASCII") ++ Array(0.toByte) ++
              s"user$id".getBytes("US-ASCII")),
            "eXIf" -> Array.fill(16)(0x47.toByte), // fake GPS block
            "tIME" -> Array.fill(7)(1.toByte))
          val tagged = PngCodec.withMeta(png, metas)
          val stripped = PngCodec.stripAncillary(tagged)
          val before = PngCodec.chunkList(tagged)
          val after = PngCodec.chunkList(stripped)
          val (_, _, rgb) = PngCodec.decode(stripped)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var i = 0
          while (i < rgb.length) {
            sr += rgb(i) & 0xff; sg += rgb(i + 1) & 0xff
            sb += rgb(i + 2) & 0xff; i += 3
          }
          MetaStripStats(id, before.size.toLong, after.size.toLong,
            (tagged.length - stripped.length).toLong,
            after.count(c => !PngCodec.Critical(c._1)).toLong,
            sr, sg, sb)
        }
      }.toDF().orderBy(col("doc_id"))
  }

  final case class ResizeStats(doc_id: Long, out_w: Int, out_h: Int,
      ds_sum_r: Long, ds_sum_g: Long, ds_sum_b: Long)

  /** REAL image resize: 2×2 box-filter downsample over decoded pixels —
    * each output channel value is the INTEGER mean (floor) of its 2×2
    * input block, the first pyramid level every vision pipeline builds.
    * Integer arithmetic end-to-end, so unlike bilinear/Lanczos the
    * result is exactly restatable in SQL. Pure-JVM, map-only. */
  def boxDownsample2x(w: Int, h: Int, rgb: Array[Byte]): (Int, Int, Array[Byte]) = {
    val (ow, oh) = (w / 2, h / 2)
    val out = new Array[Byte](ow * oh * 3)
    for (y <- 0 until oh; x <- 0 until ow; c <- 0 until 3) {
      val s = (rgb(((2 * y) * w + 2 * x) * 3 + c) & 0xff) +
        (rgb(((2 * y) * w + 2 * x + 1) * 3 + c) & 0xff) +
        (rgb(((2 * y + 1) * w + 2 * x) * 3 + c) & 0xff) +
        (rgb(((2 * y + 1) * w + 2 * x + 1) * 3 + c) & 0xff)
      out((y * ow + x) * 3 + c) = (s / 4).toByte
    }
    (ow, oh, out)
  }

  /** E5l: REAL resize under a VALUE-LEVEL oracle — the e5_png synth
    * image round-trips the full PNG encode→decode path, then a REAL
    * 2×2 box downsample (replacing the resize STUB with actual pixel
    * arithmetic); the downsampled channel sums must equal DuckDB's
    * restatement of floor-mean over the synth formula's 2×2 blocks.
    * A block-offset slip, a channel interleave bug, or a rounding
    * drift all corrupt the sums and hash-fail. */
  private val e5ResizeBox: Q = (s, dir) => {
    import s.implicits._
    val (w, h) = (16, 12)
    t(s, dir, "documents")
      .select(col("doc_id")).transform(Tables.spread)
      .as[Long].mapPartitions { ids =>
        ids.map { id =>
          val (dw, dh, px) =
            PngCodec.decode(PngCodec.encode(w, h, synthRgb(id, w, h)))
          val (ow, oh, ds) = boxDownsample2x(dw, dh, px)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var i = 0
          while (i < ds.length) {
            sr += ds(i) & 0xff; sg += ds(i + 1) & 0xff
            sb += ds(i + 2) & 0xff; i += 3
          }
          ResizeStats(id, ow, oh, sr, sg, sb)
        }
      }.toDF().orderBy(col("doc_id"))
  }

  // ------------------------------------------------ real GIF (GIF89a/LZW)

  /** Pure-JVM GIF89a codec with REAL adaptive LZW on both sides — the
    * second real image container (r11 verdict item 8; the LZW math is
    * public, CompuServe GIF89a spec). Subset: one full-frame image,
    * 256-entry color table (global on encode; local and the 4-pass
    * interlace honored on decode — javax.imageio's writer emits both,
    * spec-pinned), extension blocks skipped. The encoder grows a real
    * LZW
    * dictionary (9→12-bit codes, CLEAR reset at 4096) and packs codes
    * LSB-first into ≤255-byte sub-blocks; the decoder walks the
    * screen/image descriptors, rebuilds the dictionary — including the
    * KwKwK self-reference case — and re-emits palette indices. */
  private[ext] object GifCodec extends Serializable {
    private val MinCode = 8        // 256-color images
    private val Clear = 1 << MinCode
    private val Eoi = Clear + 1

    /** Encode palette indices (row-major) + a 768-byte RGB palette. */
    def encode(w: Int, h: Int, idx: Array[Byte],
        palette: Array[Byte]): Array[Byte] = {
      require(idx.length == w * h, "index length != w*h")
      require(palette.length == 768, "palette must be 256*3 bytes")
      val out = new java.io.ByteArrayOutputStream()
      def le16(v: Int): Unit = { out.write(v & 0xff); out.write(v >> 8) }
      out.write("GIF89a".getBytes("US-ASCII"))
      le16(w); le16(h)
      out.write(0xf7) // global table present, 8 bpp, 256 entries
      out.write(0); out.write(0) // background index, aspect
      out.write(palette)
      out.write(0x2c) // image descriptor
      le16(0); le16(0); le16(w); le16(h)
      out.write(0) // no local table, not interlaced
      out.write(MinCode)
      // adaptive LZW over the index stream
      val data = new java.io.ByteArrayOutputStream()
      var bitBuf = 0L; var nBits = 0
      def putCode(c: Int, width: Int): Unit = {
        bitBuf |= c.toLong << nBits; nBits += width
        while (nBits >= 8) {
          data.write((bitBuf & 0xff).toInt); bitBuf >>= 8; nBits -= 8
        }
      }
      var dict = scala.collection.mutable.HashMap[Long, Int]()
      var next = Eoi + 1; var width = MinCode + 1
      putCode(Clear, width)
      var prev = -1
      for (b <- idx) {
        val k = b & 0xff
        if (prev < 0) prev = k
        else {
          val key = prev.toLong * 256 + k
          dict.get(key) match {
            case Some(c) => prev = c
            case None =>
              putCode(prev, width)
              dict(key) = next; next += 1
              if (next - 1 == (1 << width) && width < 12) width += 1
              else if (next > 4096 - 1 && width == 12) {
                putCode(Clear, width)
                dict = scala.collection.mutable.HashMap[Long, Int]()
                next = Eoi + 1; width = MinCode + 1
              }
              prev = k
          }
        }
      }
      if (prev >= 0) putCode(prev, width)
      putCode(Eoi, width)
      if (nBits > 0) data.write((bitBuf & 0xff).toInt)
      val bytes = data.toByteArray
      var off = 0
      while (off < bytes.length) {
        val n = math.min(255, bytes.length - off)
        out.write(n); out.write(bytes, off, n); off += n
      }
      out.write(0x00) // block terminator
      out.write(0x3b) // trailer
      out.toByteArray
    }

    /** Decode → (w, h, palette indices, RGB palette in effect). */
    def decode(bytes: Array[Byte]): (Int, Int, Array[Byte], Array[Byte]) = {
      var p = 0
      // Every sized read bounds-checks the cursor FIRST: a truncated or
      // malformed stream must fail with a descriptive message, never an
      // ArrayIndexOutOfBoundsException from trusting the byte stream.
      def need(n: Int, what: String): Unit =
        require(p + n <= bytes.length,
          s"truncated GIF: need $n byte(s) for $what at offset $p " +
            s"of ${bytes.length}")
      def u8(): Int = {
        need(1, "byte"); val v = bytes(p) & 0xff; p += 1; v
      }
      def le16(): Int = u8() | (u8() << 8)
      need(6, "header")
      val magic = new String(bytes, 0, 6, "US-ASCII"); p = 6
      require(magic == "GIF89a" || magic == "GIF87a", s"not a GIF: $magic")
      val (sw, sh) = (le16(), le16())
      val packed = u8(); u8(); u8() // packed, bg, aspect
      var palette =
        if ((packed & 0x80) != 0) {
          val n = 3 * (2 << (packed & 7))
          need(n, "global color table")
          val t = java.util.Arrays.copyOfRange(bytes, p, p + n); p += n
          t
        } else Array.empty[Byte]
      def peek(): Int = { need(1, "block introducer"); bytes(p) & 0xff }
      while (peek() == 0x21) { // skip extensions
        need(2, "extension header"); p += 2 // introducer + label
        var n = u8()
        while (n != 0) {
          need(n, "extension sub-block"); p += n; n = u8()
        }
      }
      require(u8() == 0x2c, "expected image descriptor")
      val (ix, iy, iw, ih) = (le16(), le16(), le16(), le16())
      require(ix == 0 && iy == 0 && iw == sw && ih == sh,
        "subset decoder: full-frame single image only")
      val ipacked = u8()
      val interlaced = (ipacked & 0x40) != 0
      if ((ipacked & 0x80) != 0) { // local color table wins
        val n = 3 * (2 << (ipacked & 7))
        need(n, "local color table")
        palette = java.util.Arrays.copyOfRange(bytes, p, p + n); p += n
      }
      require(palette.length == 768, "subset decoder: 256-entry palette")
      val minCode = u8()
      val clear = 1 << minCode; val eoi = clear + 1
      // concatenate sub-blocks
      val data = new java.io.ByteArrayOutputStream()
      var n = u8()
      while (n != 0) {
        need(n, "image data sub-block")
        data.write(bytes, p, n); p += n; n = u8()
      }
      val cs = data.toByteArray
      // LZW decode, LSB-first growing widths, KwKwK handled
      val out = new java.io.ByteArrayOutputStream()
      var bitBuf = 0L; var nBits = 0; var cp = 0
      var width = minCode + 1
      val prefix = new Array[Int](4096)
      val suffix = new Array[Byte](4096)
      var next = eoi + 1
      var prevCode = -1
      def reset(): Unit = { next = eoi + 1; width = minCode + 1; prevCode = -1 }
      def firstByte(code0: Int): Byte = {
        var c = code0
        while (c >= clear) c = prefix(c)
        c.toByte
      }
      def emit(code0: Int): Unit = {
        val stack = new scala.collection.mutable.ArrayBuffer[Byte]()
        var c = code0
        while (c >= clear) { stack += suffix(c); c = prefix(c) }
        stack += c.toByte
        var i = stack.length - 1
        while (i >= 0) { out.write(stack(i)); i -= 1 }
      }
      var done = false
      while (!done) {
        while (nBits < width && cp < cs.length) {
          bitBuf |= (cs(cp) & 0xffL) << nBits; nBits += 8; cp += 1
        }
        require(nBits >= width, "truncated LZW stream")
        val code = (bitBuf & ((1 << width) - 1)).toInt
        bitBuf >>= width; nBits -= width
        if (code == clear) reset()
        else if (code == eoi) done = true
        else {
          require(code <= next, s"LZW code $code out of range")
          if (prevCode < 0) { require(code < clear); out.write(code) }
          else {
            if (code == next) { // KwKwK: new entry referenced pre-add
              prefix(next) = prevCode; suffix(next) = firstByte(prevCode)
            } else if (next < 4096) {
              prefix(next) = prevCode; suffix(next) = firstByte(code)
            }
            if (next < 4096) {
              next += 1
              if (next == (1 << width) && width < 12) width += 1
            }
            emit(code)
          }
          prevCode = code
        }
      }
      val px = out.toByteArray
      require(px.length == sw * sh,
        s"decoded ${px.length} pixels, expected ${sw * sh}")
      // GIF89a interlace: rows arrive in four passes (every 8th from 0,
      // every 8th from 4, every 4th from 2, every 2nd from 1) — put
      // them back in natural order
      val rows =
        if (!interlaced) px
        else {
          val o = new Array[Byte](px.length)
          var src = 0
          for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2));
               y <- start until sh by step) {
            System.arraycopy(px, src * sw, o, y * sw, sw); src += 1
          }
          o
        }
      (sw, sh, rows, palette)
    }
  }

  /** The deterministic palette + index-image formulas e5_gif_decode
    * uses — integer arithmetic so DuckDB restates them exactly. */
  private def synthPalette: Array[Byte] = {
    val pal = new Array[Byte](768)
    for (i <- 0 until 256) {
      pal(i * 3) = i.toByte
      pal(i * 3 + 1) = ((i * 5 + 7) % 256).toByte
      pal(i * 3 + 2) = (255 - i).toByte
    }
    pal
  }
  private def synthIndices(id: Long, w: Int, h: Int): Array[Byte] = {
    val idx = new Array[Byte](w * h)
    for (y <- 0 until h; x <- 0 until w)
      idx(y * w + x) = (((x * 7 + y * 11) + id) % 256).toByte
    idx
  }

  final case class GifStats(doc_id: Long, w: Int, h: Int, sum_r: Long,
      sum_g: Long, sum_b: Long, n_px: Long)

  /** E5q: REAL GIF decode under a VALUE-LEVEL oracle — per document a
    * deterministic 16×12 paletted image (integer index formula, integer
    * palette formulas) round-trips the full GIF89a path: adaptive LZW
    * encode (real dictionary growth), descriptor walk, LZW rebuild
    * with KwKwK handling, palette application. The decoded channel
    * sums must equal DuckDB's restatement of palette∘index over the
    * pixel grid — a bit-order slip, an off-by-one code width, a
    * dictionary reset bug, or a palette channel swap all hash-fail. */
  private val e5GifDecode: Q = (s, dir) => {
    import s.implicits._
    val (w, h) = (16, 12)
    t(s, dir, "documents")
      .select(col("doc_id")).transform(Tables.spread)
      .as[Long].mapPartitions { ids =>
        val pal = synthPalette
        ids.map { id =>
          val gif = GifCodec.encode(w, h, synthIndices(id, w, h), pal)
          val (dw, dh, px, dpal) = GifCodec.decode(gif)
          var (sr, sg, sb) = (0L, 0L, 0L)
          for (b <- px) {
            val i = b & 0xff
            sr += dpal(i * 3) & 0xff
            sg += dpal(i * 3 + 1) & 0xff
            sb += dpal(i * 3 + 2) & 0xff
          }
          GifStats(id, dw, dh, sr, sg, sb, dw.toLong * dh)
        }
      }.toDF().orderBy(col("doc_id"))
  }

  // ------------------------------------------- real JPEG (baseline JFIF)

  /** Pure-JVM BASELINE JPEG DECODER — the dominant web image format,
    * the last big container after PPM/PNG/GIF (ITU-T T.81 / ISO 10918;
    * the DCT math is shared with [[dct2d]]'s e5_dct_phash pass).
    * Covers sequential baseline (SOF0): DQT (8/16-bit precision),
    * multiple DHT canonical Huffman tables, JFIF APPn/COM skip,
    * restart intervals (DRI + RSTn), 8-bit 1- or 3-component scans
    * with sampling factors 1 or 2 (4:4:4, 4:2:2, 4:2:0), byte
    * stuffing (FF 00), the full entropy pipeline (DC prediction +
    * magnitude extension, AC run-length with ZRL/EOB), dequantization
    * in zigzag order, a double-precision 8×8 inverse DCT, libjpeg's
    * TRIANGULAR ("fancy") chroma upsampling — the decoder javax
    * .imageio wraps uses it by default, and matching it is what keeps
    * the cross-implementation fixture tight — and YCbCr→RGB. Every
    * sized read bounds-checks the cursor (the GifCodec discipline):
    * truncated streams fail with a descriptive message. */
  private[ext] object JpegCodec extends Serializable {

    private val Zigzag: Array[Int] = Array(
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

    private val CosTable: Array[Double] = {
      val t = new Array[Double](8 * 8)
      for (u <- 0 until 8; x <- 0 until 8)
        t(u * 8 + x) = math.cos((2 * x + 1) * u * math.Pi / 16.0)
      t
    }

    private final class Huff(counts: Array[Int], symbols: Array[Int]) {
      // canonical code tables: mincode/maxcode per length + value index
      private val minCode = new Array[Int](17)
      private val maxCode = Array.fill(17)(-1)
      private val valPtr = new Array[Int](17)
      locally {
        var code = 0; var k = 0
        for (l <- 1 to 16) {
          valPtr(l) = k; minCode(l) = code
          if (counts(l - 1) > 0) {
            k += counts(l - 1); code += counts(l - 1)
            maxCode(l) = code - 1
          }
          code <<= 1
        }
      }
      def decode(br: BitReader): Int = {
        var code = br.bit(); var l = 1
        while (l <= 16 && (maxCode(l) < 0 || code > maxCode(l))) {
          code = (code << 1) | br.bit(); l += 1
        }
        require(l <= 16, "corrupt JPEG: Huffman code longer than 16 bits")
        // Non-truncated corruption can land inside a length whose code
        // range doesn't cover `code` — fail with the codec's own
        // message, not a raw ArrayIndexOutOfBoundsException.
        val idx = valPtr(l) + code - minCode(l)
        require(idx >= 0 && idx < symbols.length,
          "corrupt JPEG: invalid Huffman code")
        symbols(idx)
      }
    }

    private final class BitReader(bytes: Array[Byte], var p: Int) {
      private var buf = 0
      private var n = 0
      def align(): Unit = { buf = 0; n = 0 }
      /** The next marker's second byte, consuming FF xx — restart
        * handling peeks through the entropy stream. */
      def atMarker: Boolean =
        p + 1 < bytes.length && (bytes(p) & 0xff) == 0xff &&
          (bytes(p + 1) & 0xff) != 0x00
      def skipMarker(): Int = {
        // T.81 B.1.1.2: any number of 0xFF fill bytes may precede the
        // marker code — skip them or a conformant restart fails
        while (p + 1 < bytes.length && (bytes(p + 1) & 0xff) == 0xff)
          p += 1
        val m = bytes(p + 1) & 0xff; p += 2; m
      }
      def bit(): Int = {
        if (n == 0) {
          require(p < bytes.length, "truncated JPEG: entropy stream")
          var b = bytes(p) & 0xff; p += 1
          if (b == 0xff) {
            require(p < bytes.length, "truncated JPEG: stuffing")
            val next = bytes(p) & 0xff
            require(next == 0x00,
              f"corrupt JPEG: marker FF$next%02X inside entropy data")
            p += 1
          }
          buf = b; n = 8
        }
        n -= 1
        (buf >> n) & 1
      }
      def bits(k: Int): Int = {
        var v = 0; var i = 0
        while (i < k) { v = (v << 1) | bit(); i += 1 }
        v
      }
    }

    private def extend(v: Int, s: Int): Int =
      if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

    private def idct8x8(coef: Array[Double], out: Array[Int]): Unit = {
      // separable: rows then columns, with the C(u) normalization
      val tmp = new Array[Double](64)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          var s = 0.0; var u = 0
          while (u < 8) {
            val cu = if (u == 0) 0.7071067811865476 else 1.0
            s += cu * coef(y * 8 + u) * CosTable(u * 8 + x); u += 1
          }
          tmp(y * 8 + x) = s / 2.0; x += 1
        }
        y += 1
      }
      var x = 0
      while (x < 8) {
        y = 0
        while (y < 8) {
          var s = 0.0; var v = 0
          while (v < 8) {
            val cv = if (v == 0) 0.7071067811865476 else 1.0
            s += cv * tmp(v * 8 + x) * CosTable(v * 8 + y); v += 1
          }
          val px = math.round(s / 2.0 + 128.0).toInt
          out(y * 8 + x) = if (px < 0) 0 else if (px > 255) 255 else px
          y += 1
        }
        x += 1
      }
    }

    /** libjpeg's fancy (triangular) 2× upsampling in one or both
      * dimensions, with edge replication: each output sample is the
      * 3:1 (h2v1: with the libjpeg 1/2 rounding split) or 9:3:3:1
      * (h2v2) blend of its nearest input samples. Factor-1 axes pass
      * through. */
    private def upsample(plane: Array[Int], pw: Int, ph: Int,
        fx: Int, fy: Int, w: Int, h: Int): Array[Int] = {
      require(fx >= 1 && fx <= 2 && fy >= 1 && fy <= 2,
        s"unsupported sampling factor ${fx}x$fy")
      if (fx == 1 && fy == 1) return plane
      def in(x: Int, y: Int): Int = {
        val cx = if (x < 0) 0 else if (x >= pw) pw - 1 else x
        val cy = if (y < 0) 0 else if (y >= ph) ph - 1 else y
        plane(cy * pw + cx)
      }
      val out = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v =
            if (fx == 2 && fy == 2) {
              val ix = x / 2; val iy = y / 2
              val dx = if ((x & 1) == 0) -1 else 1
              val dy = if ((y & 1) == 0) -1 else 1
              (9 * in(ix, iy) + 3 * in(ix + dx, iy) +
                3 * in(ix, iy + dy) + in(ix + dx, iy + dy) + 8) >> 4
            } else if (fx == 2) {
              val ix = x / 2
              if ((x & 1) == 0) (3 * in(ix, y) + in(ix - 1, y) + 1) >> 2
              else (3 * in(ix, y) + in(ix + 1, y) + 2) >> 2
            } else {
              val iy = y / 2
              if ((y & 1) == 0) (3 * in(x, iy) + in(x, iy - 1) + 1) >> 2
              else (3 * in(x, iy) + in(x, iy + 1) + 2) >> 2
            }
          out(y * w + x) = v
          x += 1
        }
        y += 1
      }
      out
    }

    /** Decode a baseline JPEG → (w, h, interleaved RGB row-major; a
      * 1-component scan replicates luma to all three channels). */
    def decode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
      var p = 0
      def need(n: Int, what: String): Unit =
        require(p + n <= bytes.length,
          s"truncated JPEG: need $n byte(s) for $what at offset $p " +
            s"of ${bytes.length}")
      def u8(): Int = { need(1, "byte"); val v = bytes(p) & 0xff; p += 1; v }
      def u16(): Int = { val hi = u8(); (hi << 8) | u8() }
      require(bytes.length >= 2 && u16() == 0xffd8, "not a JPEG (no SOI)")
      val qtabs = new Array[Array[Int]](4)
      val dcTabs = new Array[Huff](4)
      val acTabs = new Array[Huff](4)
      var w = 0; var h = 0
      // per component: id, hf, vf, quant table id
      var comps: Array[(Int, Int, Int, Int)] = null
      var restartInterval = 0
      var rgb: Array[Byte] = null
      var done = false
      while (!done) {
        need(2, "marker")
        require((bytes(p) & 0xff) == 0xff,
          f"corrupt JPEG: expected marker, got ${bytes(p) & 0xff}%02X " +
            s"at offset $p")
        val m = bytes(p + 1) & 0xff; p += 2
        m match {
          case 0xd9 => done = true // EOI
          case 0xdb => // DQT
            val len = u16(); val end = p + len - 2
            while (p < end) {
              val pq = u8(); val prec = pq >> 4; val id = pq & 15
              val t = new Array[Int](64)
              var i = 0
              while (i < 64) {
                t(i) = if (prec == 0) u8() else u16(); i += 1
              }
              qtabs(id) = t
            }
          case 0xc4 => // DHT
            val len = u16(); val end = p + len - 2
            while (p < end) {
              val tc = u8(); val cls = tc >> 4; val id = tc & 15
              val counts = Array.tabulate(16)(_ => u8())
              val total = counts.sum
              val syms = Array.tabulate(total)(_ => u8())
              val tab = new Huff(counts, syms)
              if (cls == 0) dcTabs(id) = tab else acTabs(id) = tab
            }
          case 0xc0 => // SOF0 baseline
            u16(); val prec = u8()
            require(prec == 8, s"unsupported sample precision $prec")
            h = u16(); w = u16()
            val nc = u8()
            require(nc == 1 || nc == 3, s"unsupported component count $nc")
            comps = Array.tabulate(nc) { _ =>
              val id = u8(); val hv = u8(); val tq = u8()
              (id, hv >> 4, hv & 15, tq)
            }
          case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
              0xcb | 0xcd | 0xce | 0xcf =>
            throw new IllegalArgumentException(
              f"unsupported JPEG process (SOF marker FF$m%02X — " +
                "baseline sequential only)")
          case 0xdd => // DRI
            u16(); restartInterval = u16()
          case 0xda => // SOS — entropy-coded scan follows
            require(comps != null, "corrupt JPEG: SOS before SOF0")
            val len = u16(); val end = p + len - 2
            val ns = u8()
            require(ns == comps.length, "partial scans unsupported")
            val scanTabs = Array.tabulate(ns) { _ =>
              val cid = u8(); val tt = u8()
              val ci = comps.indexWhere(_._1 == cid)
              require(ci >= 0, s"scan references unknown component $cid")
              (ci, tt >> 4, tt & 15)
            }
            p = end // Ss/Se/AhAl (baseline: 0, 63, 0) sit inside len
            rgb = decodeScan(bytes, p, w, h, comps, scanTabs, qtabs,
              dcTabs, acTabs, restartInterval) match {
              case (px, newP) => p = newP; px
            }
          case x if x >= 0xe0 && x <= 0xef => // APPn
            // (`p += u16() - 2` would read the PRE-u16 p — the +=
            // RHS evaluates after the left operand is loaded)
            val len = u16(); p += len - 2
          case 0xfe => // COM
            val len = u16(); p += len - 2
          case 0x01 => () // TEM, no payload
          case other =>
            throw new IllegalArgumentException(
              f"unsupported JPEG marker FF$other%02X")
        }
      }
      require(rgb != null, "corrupt JPEG: no scan before EOI")
      (w, h, rgb)
    }

    private def decodeScan(bytes: Array[Byte], start: Int, w: Int,
        h: Int, comps: Array[(Int, Int, Int, Int)],
        scanTabs: Array[(Int, Int, Int)], qtabs: Array[Array[Int]],
        dcTabs: Array[Huff], acTabs: Array[Huff],
        restartInterval: Int): (Array[Byte], Int) = {
      val nc = comps.length
      val hmax = comps.map(_._2).max
      val vmax = comps.map(_._3).max
      val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
      val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
      // block-padded component planes
      val planeW = comps.map(c => mcusX * c._2 * 8)
      val planeH = comps.map(c => mcusY * c._3 * 8)
      val planes = Array.tabulate(nc)(i =>
        new Array[Int](planeW(i) * planeH(i)))
      val br = new BitReader(bytes, start)
      val dcPred = new Array[Int](nc)
      val coef = new Array[Double](64)
      val block = new Array[Int](64)
      var mcu = 0
      val nMcus = mcusX * mcusY
      while (mcu < nMcus) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          br.align()
          require(br.atMarker, "corrupt JPEG: expected restart marker")
          val rm = br.skipMarker()
          require(rm >= 0xd0 && rm <= 0xd7,
            f"corrupt JPEG: expected RSTn, got FF$rm%02X")
          java.util.Arrays.fill(dcPred, 0)
        }
        val mx = mcu % mcusX; val my = mcu / mcusX
        var si = 0
        while (si < nc) {
          val (ci, dcId, acId) = scanTabs(si)
          val (_, hf, vf, tq) = comps(ci)
          val q = qtabs(tq)
          require(q != null, s"missing quant table $tq")
          var by = 0
          while (by < vf) {
            var bx = 0
            while (bx < hf) {
              java.util.Arrays.fill(coef, 0.0)
              val s0 = dcTabs(dcId).decode(br)
              dcPred(ci) += extend(br.bits(s0), s0)
              coef(0) = dcPred(ci).toDouble * q(0)
              var k = 1
              var eob = false
              while (k < 64 && !eob) {
                val rs = acTabs(acId).decode(br)
                val r = rs >> 4; val s = rs & 15
                if (s == 0) {
                  if (r == 15) k += 16 else eob = true
                } else {
                  k += r
                  require(k < 64, "corrupt JPEG: AC index overflow")
                  coef(Zigzag(k)) = extend(br.bits(s), s).toDouble * q(k)
                  k += 1
                }
              }
              idct8x8(coef, block)
              val ox = (mx * hf + bx) * 8; val oy = (my * vf + by) * 8
              var yy = 0
              while (yy < 8) {
                var xx = 0
                while (xx < 8) {
                  planes(ci)((oy + yy) * planeW(ci) + ox + xx) =
                    block(yy * 8 + xx)
                  xx += 1
                }
                yy += 1
              }
              bx += 1
            }
            by += 1
          }
          si += 1
        }
        mcu += 1
      }
      // upsample to full resolution (component's true sample dims,
      // not the block-padded plane, drive neighbor clamping)
      val full = Array.tabulate(nc) { i =>
        val (_, hf, vf, _) = comps(i)
        val cw = (w * hf + hmax - 1) / hmax
        val ch = (h * vf + vmax - 1) / vmax
        val cropped =
          if (cw == planeW(i) && ch == planeH(i)) planes(i)
          else {
            val c = new Array[Int](cw * ch)
            var y = 0
            while (y < ch) {
              System.arraycopy(planes(i), y * planeW(i), c, y * cw, cw)
              y += 1
            }
            c
          }
        upsample(cropped, cw, ch, hmax / hf, vmax / vf, w, h)
      }
      val rgb = new Array[Byte](w * h * 3)
      def clamp(v: Double): Byte = {
        val r = math.round(v).toInt
        (if (r < 0) 0 else if (r > 255) 255 else r).toByte
      }
      var i = 0
      while (i < w * h) {
        if (nc == 1) {
          val yv = full(0)(i).toByte
          rgb(i * 3) = yv; rgb(i * 3 + 1) = yv; rgb(i * 3 + 2) = yv
        } else {
          val yv = full(0)(i).toDouble
          val cb = full(1)(i) - 128.0
          val cr = full(2)(i) - 128.0
          rgb(i * 3) = clamp(yv + 1.402 * cr)
          rgb(i * 3 + 1) = clamp(yv - 0.344136286 * cb - 0.714136286 * cr)
          rgb(i * 3 + 2) = clamp(yv + 1.772 * cb)
        }
        i += 1
      }
      // the caller resumes marker parsing after the scan: back the
      // cursor up to the marker the bit reader stopped at
      (rgb, br.p)
    }
  }

  /** Encode RGB bytes through the JDK's own JPEG writer — the
    * cross-implementation fixture encoder both JPEG gates share. */
  private[ext] def imageioJpegBytes(w: Int, h: Int, rgb: Array[Byte],
      quality: Float): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = (y * w + x) * 3
        img.setRGB(x, y, ((rgb(i) & 0xff) << 16) |
          ((rgb(i + 1) & 0xff) << 8) | (rgb(i + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(
      javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null,
      new javax.imageio.IIOImage(img, null, null), params)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  final case class JpegStats(doc_id: Long, ok_dims: Boolean,
      max_diff: Int, sum_diff: Long, src_sum_diff: Long, n_samples: Long)

  /** E5r ✱: REAL JPEG BASELINE DECODE — per document a deterministic
    * smooth-ramp RGB image (ramps keep quantization loss low and
    * chroma smooth) is encoded by the JDK's own JPEG writer (executor-
    * side javax.imageio, quality 0.9 — YCbCr 4:2:0, the web default)
    * and the SAME bytes are decoded by [[JpegCodec]] AND by
    * javax.imageio. The gate asserts in-plan, over every image:
    * dimensions exact; per-sample divergence from the reference
    * decoder bounded (max ≤ 4, run mean ≤ 1.0 — the two decoders
    * share the entropy/dequant pipeline bit-for-bit, so only IDCT
    * rounding and upsampling edges differ, and [[JpegCodec]]
    * implements libjpeg's triangular upsampling precisely to keep
    * this tight); and reconstruction fidelity against the ORIGINAL
    * pixels (mean ≤ 4 at q=0.9 on smooth content), which fails if
    * both decoders were consistently wrong. The cross-implementation
    * spec (MultimodalSpec) additionally pins sharp-edge grayscale,
    * odd dimensions, restart/truncation behavior. */
  private val e5JpegDecode: Q = (s, dir) => {
    import s.implicits._
    val (w, h) = (24, 16)
    val stats = t(s, dir, "documents")
      .select(col("doc_id")).transform(Tables.spread)
      .as[Long].mapPartitions { ids =>
        ids.map { id =>
          val rgb = Array.tabulate(w * h * 3) { i =>
            val px = i / 3; val x = px % w; val y = px / w
            (i % 3 match {
              case 0 => 32 + (x * 128) / (w - 1) + (id % 16).toInt * 2
              case 1 => 32 + (y * 128) / (h - 1)
              case _ => 64 + ((x + y) * 64) / (w + h - 2)
            }).toByte
          }
          val jpg = imageioJpegBytes(w, h, rgb, 0.9f)
          val (dw, dh, mine) = JpegCodec.decode(jpg)
          val ref = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(jpg))
          var maxD = 0; var sumD = 0L; var srcD = 0L
          for (y <- 0 until h; x <- 0 until w) {
            val i = (y * w + x) * 3
            val px = ref.getRGB(x, y)
            val rd = Seq((px >> 16) & 0xff, (px >> 8) & 0xff, px & 0xff)
            for (c <- 0 until 3) {
              val m = mine(i + c) & 0xff
              val d = math.abs(m - rd(c))
              if (d > maxD) maxD = d
              sumD += d
              srcD += math.abs(m - (rgb(i + c) & 0xff))
            }
          }
          JpegStats(id, dw == w && dh == h, maxD, sumD, srcD,
            3L * w * h)
        }
      }.toDF()
    stats.agg(
      expr("bool_and(ok_dims)").as("dims_ok"),
      (max(col("max_diff")) <= 4).as("interop_max_ok"),
      (sum(col("sum_diff")).cast("double") / sum(col("n_samples"))
        <= 1.0).as("interop_mean_ok"),
      (sum(col("src_sum_diff")).cast("double") / sum(col("n_samples"))
        <= 4.0).as("source_fidelity_ok"),
      (count(lit(1)) > 0).as("nonempty"))
  }

  /** Baseline JPEG ENCODER — completes the codec the way GifCodec is
    * real in both directions (T.81 Annex K tables and the libjpeg
    * quality scaling are published spec data). 4:4:4 sampling (every
    * component full resolution — the encoder's job is the transform
    * pipeline, not subsampling), standard Annex-K quantization tables
    * scaled by `quality` (libjpeg: scale = q<50 ? 5000/q : 200−2q),
    * standard Annex-K DC/AC Huffman tables for both channels, JFIF
    * APP0, FF-stuffed entropy data. The interop gate decodes these
    * bytes with javax.imageio AND [[JpegCodec]], so a symmetric
    * encode/decode bug cannot cancel. */
  private[ext] object JpegEncoder extends Serializable {
    // T.81 Annex K base quantization tables, zigzag order
    private val QLumaBase: Array[Int] = Array(
      16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
      26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
      56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
      95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
      103, 99)
    private val QChromaBase: Array[Int] = Array(
      17, 18, 18, 24, 21, 24, 47, 26, 26, 47, 99, 66, 56, 66, 99, 99,
      99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
      99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
      99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99)
    // T.81 Annex K Huffman specs: (counts per length 1..16, symbols)
    private val DcLuma = (Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0,
      0, 0, 0), (0 to 11).toArray)
    private val DcChroma = (Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0,
      0, 0, 0, 0), (0 to 11).toArray)
    private val AcLuma = (Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0,
      0, 1, 125), Array(
      0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
      0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
      0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
      0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
      0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
      0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
      0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
      0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
      0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
      0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
      0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
      0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
      0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
      0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
      0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa))
    private val AcChroma = (Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4,
      0, 1, 2, 119), Array(
      0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
      0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
      0x42, 0x91, 0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15,
      0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17,
      0x18, 0x19, 0x1a, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37,
      0x38, 0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a,
      0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65,
      0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
      0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a,
      0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
      0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5,
      0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
      0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9,
      0xda, 0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2,
      0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa))

    private val Zig: Array[Int] = Array(
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

    private def scaleTable(base: Array[Int], quality: Int): Array[Int] = {
      val q = math.max(1, math.min(100, quality))
      val scale = if (q < 50) 5000 / q else 200 - 2 * q
      base.map { b =>
        val v = (b * scale + 50) / 100
        math.max(1, math.min(255, v))
      }
    }

    /** (codes, lengths) per symbol from a T.81 (counts, symbols) spec. */
    private def buildCodes(spec: (Array[Int], Array[Int]))
        : (Array[Int], Array[Int]) = {
      val (counts, syms) = spec
      val codes = new Array[Int](256)
      val lens = new Array[Int](256)
      var code = 0; var k = 0
      for (l <- 1 to 16) {
        var i = 0
        while (i < counts(l - 1)) {
          codes(syms(k)) = code; lens(syms(k)) = l
          code += 1; k += 1; i += 1
        }
        code <<= 1
      }
      (codes, lens)
    }

    /** Encode RGB (row-major) as a baseline 4:4:4 JFIF JPEG. */
    def encode(w: Int, h: Int, rgb: Array[Byte], quality: Int)
        : Array[Byte] = {
      require(rgb.length == w * h * 3, "rgb length != w*h*3")
      val qLuma = scaleTable(QLumaBase, quality)
      val qChroma = scaleTable(QChromaBase, quality)
      val out = new java.io.ByteArrayOutputStream()
      def u16(v: Int): Unit = { out.write(v >> 8); out.write(v & 0xff) }
      out.write(Array[Byte](0xff.toByte, 0xd8.toByte)) // SOI
      // APP0 JFIF
      out.write(0xff); out.write(0xe0); u16(16)
      out.write("JFIF".getBytes("US-ASCII")); out.write(0)
      out.write(1); out.write(2) // version 1.2
      out.write(0); u16(1); u16(1) // no density
      out.write(0); out.write(0) // no thumbnail
      for ((id, t) <- Seq((0, qLuma), (1, qChroma))) {
        out.write(0xff); out.write(0xdb); u16(67); out.write(id)
        t.foreach(out.write)
      }
      out.write(0xff); out.write(0xc0); u16(17) // SOF0
      out.write(8); u16(h); u16(w); out.write(3)
      for (c <- 1 to 3) {
        out.write(c); out.write(0x11) // 1x1 sampling
        out.write(if (c == 1) 0 else 1)
      }
      for ((cls, id, spec) <- Seq((0, 0, DcLuma), (1, 0, AcLuma),
          (0, 1, DcChroma), (1, 1, AcChroma))) {
        val (counts, syms) = spec
        out.write(0xff); out.write(0xc4)
        u16(2 + 1 + 16 + syms.length)
        out.write((cls << 4) | id)
        counts.foreach(out.write); syms.foreach(out.write)
      }
      out.write(0xff); out.write(0xda); u16(6 + 2 * 3) // SOS
      out.write(3)
      for (c <- 1 to 3) {
        out.write(c)
        out.write(if (c == 1) 0x00 else 0x11)
      }
      out.write(0); out.write(63); out.write(0) // Ss/Se/AhAl
      // entropy-coded data
      val (dcLC, dcLL) = buildCodes(DcLuma)
      val (acLC, acLL) = buildCodes(AcLuma)
      val (dcCC, dcCL) = buildCodes(DcChroma)
      val (acCC, acCL) = buildCodes(AcChroma)
      var bitBuf = 0L; var nBits = 0
      def putBits(code: Int, len: Int): Unit = {
        bitBuf = (bitBuf << len) | (code & ((1L << len) - 1)); nBits += len
        while (nBits >= 8) {
          val b = ((bitBuf >> (nBits - 8)) & 0xff).toInt
          out.write(b)
          if (b == 0xff) out.write(0x00) // stuffing
          nBits -= 8
          bitBuf &= (1L << nBits) - 1 // drop emitted bits
        }
      }
      val cosT = Array.tabulate(8, 8)((u, x) =>
        math.cos((2 * x + 1) * u * math.Pi / 16.0))
      val block = new Array[Double](64)
      val coef = new Array[Int](64)
      def fdctQuant(q: Array[Int]): Unit = {
        // separable DCT-II with the 1/4·C(u)C(v) normalization, then
        // quantize in zigzag order
        val tmp = new Array[Double](64)
        var u = 0
        while (u < 8) {
          var y = 0
          while (y < 8) {
            var s = 0.0; var x = 0
            while (x < 8) { s += block(y * 8 + x) * cosT(u)(x); x += 1 }
            tmp(y * 8 + u) = s; y += 1
          }
          u += 1
        }
        var k = 0
        while (k < 64) {
          val uu = Zig(k) % 8; val vv = Zig(k) / 8
          var s = 0.0; var y = 0
          while (y < 8) { s += tmp(y * 8 + uu) * cosT(vv)(y); y += 1 }
          val cu = if (uu == 0) 0.7071067811865476 else 1.0
          val cv = if (vv == 0) 0.7071067811865476 else 1.0
          coef(k) = math.round(s * cu * cv / 4.0 / q(k)).toInt
          k += 1
        }
      }
      def size(v: Int): Int = {
        var a = math.abs(v); var s = 0
        while (a != 0) { a >>= 1; s += 1 }
        s
      }
      val dcPred = new Array[Int](3)
      val mcusX = (w + 7) / 8; val mcusY = (h + 7) / 8
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          var c = 0
          while (c < 3) {
            // fill the block: component c of the 8x8 tile, edge-
            // replicated, YCbCr from JFIF's RGB transform, −128 shift
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                val px = math.min(w - 1, mx * 8 + xx)
                val py = math.min(h - 1, my * 8 + yy)
                val i = (py * w + px) * 3
                val r = rgb(i) & 0xff; val g = rgb(i + 1) & 0xff
                val b = rgb(i + 2) & 0xff
                val v = c match {
                  case 0 => 0.299 * r + 0.587 * g + 0.114 * b
                  case 1 => -0.168735892 * r - 0.331264108 * g +
                    0.5 * b + 128.0
                  case _ => 0.5 * r - 0.418687589 * g -
                    0.081312411 * b + 128.0
                }
                block(yy * 8 + xx) = v - 128.0
                xx += 1
              }
              yy += 1
            }
            fdctQuant(if (c == 0) qLuma else qChroma)
            val (dcC, dcL) = if (c == 0) (dcLC, dcLL) else (dcCC, dcCL)
            val (acC, acL) = if (c == 0) (acLC, acLL) else (acCC, acCL)
            val diff = coef(0) - dcPred(c); dcPred(c) = coef(0)
            val s0 = size(diff)
            putBits(dcC(s0), dcL(s0))
            if (s0 > 0)
              putBits(if (diff < 0) diff + (1 << s0) - 1 else diff, s0)
            var k = 1; var run = 0
            while (k < 64) {
              if (coef(k) == 0) run += 1
              else {
                while (run > 15) { putBits(acC(0xf0), acL(0xf0)); run -= 16 }
                val sv = size(coef(k))
                val rs = (run << 4) | sv
                putBits(acC(rs), acL(rs))
                putBits(if (coef(k) < 0) coef(k) + (1 << sv) - 1
                  else coef(k), sv)
                run = 0
              }
              k += 1
            }
            if (run > 0) putBits(acC(0x00), acL(0x00)) // EOB
            c += 1
          }
          mx += 1
        }
        my += 1
      }
      if (nBits > 0) putBits(0x7f, 7 - ((nBits + 7) % 8)) // 1-pad
      out.write(0xff); out.write(0xd9) // EOI
      out.toByteArray
    }
  }

  /** Deterministic 32×32 test image for the JPEG-pHash pipeline: a
    * mixture of three cosine gratings whose frequencies and phases
    * derive from the id. The mixture puts well-separated energy across
    * the pHash's 8×8 low-frequency block — a pure ramp would leave
    * most of the 63 coefficients near zero, where the median-threshold
    * bits are quantization-noise signs and NO hash is stable (the
    * photograph-like spectrum is what pHash is specified over).
    * Consecutive ids change every frequency and phase, so unrelated
    * images land far apart. */
  private[ext] def synthJpegImage(id: Long, n: Int): Array[Byte] = {
    // Pseudo-random amplitude for EVERY low-frequency DCT bin the
    // pHash thresholds (u,v < 8, not both 0): with all 63 coefficient
    // magnitudes spread well apart, the median is a meaningful
    // separator and only coefficients within quantization noise of it
    // can flip — a pure ramp or a sparse grating leaves most bins at
    // ~0 where every bit is a noise sign and NO perceptual hash is
    // stable. This is the photograph-like spectrum pHash is
    // specified over, synthesized deterministically. The (id, u, v)
    // mix is a REAL bit mixer (splitmix64 finalizer): a linear
    // formula reduced mod m collapses to id mod m, repeating the
    // image every m ids — identical-image classes whose all-bands
    // LSH collisions grow quadratically with corpus size.
    def mix(a: Long): Long = {
      var x = a * 0x9E3779B97F4A7C15L
      x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
      x ^= x >>> 27; x *= 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val amp = Array.tabulate(8, 8)((u, v) =>
      if (u == 0 && v == 0) 0.0
      else (math.floorMod(mix(id * 64 + u * 8 + v), 23L) - 11L) * 1.6)
    val cosT = Array.tabulate(8, n)((u, x) =>
      math.cos(math.Pi * (2 * x + 1) * u / (2.0 * n)))
    Array.tabulate(n * n * 3) { i =>
      val px = i / 3; val x = px % n; val y = px / n
      var v = 128.0
      var u = 0
      while (u < 8) {
        var w = 0
        while (w < 8) {
          v += amp(u)(w) * cosT(u)(x) * cosT(w)(y); w += 1
        }
        u += 1
      }
      val c = i % 3 match {
        case 0 => v
        case 1 => v * 0.9
        case _ => v * 1.1
      }
      val vi = math.round(c).toInt
      (if (vi < 0) 0 else if (vi > 255) 255 else vi).toByte
    }
  }

  final case class JpegEncStats(doc_id: Long, ok_dims: Boolean,
      agree_max: Int, agree_sum: Long, src_max: Int,
      src_sum: Long, n_samples: Long)

  /** E5t ✱: REAL JPEG ENCODE, interop-gated BOTH WAYS like the GIF
    * codec — per document [[JpegEncoder]] compresses the deterministic
    * full-spectrum image (quality 90, 4:4:4, Annex-K tables) and the
    * SAME bytes are decoded by javax.imageio (the independent
    * implementation — it accepting and agreeing kills any
    * symmetric-bug cancellation) AND by [[JpegCodec]]. In-plan gates:
    * dimensions exact; JDK-decode vs own-decode divergence bounded
    * (max ≤ 4, run mean ≤ 0.5 — same coefficients, only IDCT and
    * fixed-point color-convert rounding differ at 4:4:4; measured
    * global max 3, mean 0.024 over 500 images); and reconstruction
    * fidelity of the JDK's
    * decode against the ORIGINAL pixels (mean ≤ 3 at q90), which
    * fails if the encoder mangles content in a way both decoders
    * faithfully reproduce. */
  private val e5JpegEncode: Q = (s, dir) => {
    import s.implicits._
    val (w, h) = (24, 16)
    val stats = t(s, dir, "documents")
      .select(col("doc_id")).transform(Tables.spread)
      .as[Long].mapPartitions { ids =>
        ids.map { id =>
          // Real 24×16 crop of the 32×32 full-spectrum image: copy
          // w-wide row slices at the source's 32-px stride. (A plain
          // take(w*h*3) reinterprets 32-px rows as 24-wide, shearing
          // the first 12 source rows across all 16 output rows — the
          // content was deterministic but not the documented pattern.)
          val full = synthJpegImage(id, 32)
          val rgb = new Array[Byte](w * h * 3)
          var r = 0
          while (r < h) {
            System.arraycopy(full, r * 32 * 3, rgb, r * w * 3, w * 3)
            r += 1
          }
          val jpg = JpegEncoder.encode(w, h, rgb, quality = 90)
          val ref = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(jpg))
          val (dw, dh, mine) = JpegCodec.decode(jpg)
          var srcMax = 0; var agreeSum = 0L; var agreeMax = 0
          var srcSum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val i = (y * w + x) * 3
              val px = ref.getRGB(x, y)
              val rd = Array((px >> 16) & 0xff, (px >> 8) & 0xff,
                px & 0xff)
              var c = 0
              while (c < 3) {
                val m = mine(i + c) & 0xff
                val da = math.abs(m - rd(c))
                if (da > agreeMax) agreeMax = da
                val ds = math.abs(rd(c) - (rgb(i + c) & 0xff))
                if (ds > srcMax) srcMax = ds
                agreeSum += da
                srcSum += ds
                c += 1
              }
              x += 1
            }
            y += 1
          }
          JpegEncStats(id, dw == w && dh == h &&
            ref.getWidth == w && ref.getHeight == h,
            agreeMax, agreeSum, srcMax, srcSum, 3L * w * h)
        }
      }.toDF()
    stats.agg(
      expr("bool_and(ok_dims)").as("dims_ok"),
      (max(col("agree_max")) <= 4).as("decoder_agreement_max_ok"),
      (sum(col("agree_sum")).cast("double") / sum(col("n_samples"))
        <= 0.5).as("decoder_agreement_mean_ok"),
      (sum(col("src_sum")).cast("double") / sum(col("n_samples"))
        <= 3.0).as("source_fidelity_ok"),
      (count(lit(1)) > 0).as("nonempty"))
  }

  final case class JpegHashRow(doc_id: Long, phash: Long)

  /** E5s ✱: REAL-CONTAINER IMAGE NEAR-DUP PIPELINE — the composition a
    * 100 TB image corpus actually runs, end to end: JPEG bytes →
    * [[JpegCodec]] decode → luma plane → DCT pHash ([[phash64]], the
    * Zauner construction e5_dct_phash gates) → 9×7-bit banded LSH join
    * → Hamming verification. Per document a deterministic 32×32 image
    * is encoded TWICE by the JDK writer (quality 0.9 and 0.5), giving
    * one planted RE-ENCODED near-duplicate pair per doc — the exact
    * case perceptual hashing exists for: exact/digest dedup can never
    * catch a re-encode, the pHash of the decoded pixels must. Gates
    * (✱): banded candidate recall over the ≤8-Hamming radius is EXACT
    * (pigeonhole: 8 differing bits cannot touch all 9 bands); ≥90% of
    * re-encode pairs land within the radius (pHash robustness to
    * quantization); ≤10% of consecutive-id pairs (always different
    * pattern families) do (discrimination); and the banded join stays
    * inside the absolute 4096·n pair budget. Every stage is map-only
    * or a keyed equi-join — decode and hash never shuffle pixels. */
  private val e5JpegPhash: Q = (s, dir) => {
    import s.implicits._
    val n = 32
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val hashes = Tables.spread(docs).as[Long]
      .mapPartitions { ids =>
        val cosT = Array.tabulate(8, n)((u, x) =>
          math.cos(math.Pi * (2 * x + 1) * u / (2.0 * n)))
        ids.flatMap { id =>
          val rgb = synthJpegImage(id, n)
          Seq((0.9f, id), (0.5f, id + 700000L)).map { case (q, hid) =>
            val jpg = imageioJpegBytes(n, n, rgb, q)
            val (_, _, px) = JpegCodec.decode(jpg)
            val p = new Array[Double](n * n)
            var i = 0
            while (i < n * n) {
              p(i) = 0.299 * (px(i * 3) & 0xff) +
                0.587 * (px(i * 3 + 1) & 0xff) +
                0.114 * (px(i * 3 + 2) & 0xff)
              i += 1
            }
            JpegHashRow(hid, phash64(p, n, cosT))
          }
        }
      }.toDF().localCheckpoint(eager = false) // hashed once, read 4×
    val bands = hashes.select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(8))).as("band"))
      .withColumn("key",
        expr("shiftrightunsigned(phash, band * 7) & 127"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.phash").as("ha"), col("y.phash").as("hb"))
      .distinct()
    val rec = cand.withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= 8)
    val plantedPairs = docs
      .select(col("doc_id").as("a"), (col("doc_id") + 700000L).as("b"))
    def hammingOf(pairs: DataFrame): DataFrame = pairs
      .join(hashes.select(col("doc_id").as("a"), col("phash").as("ha")),
        Seq("a"))
      .join(hashes.select(col("doc_id").as("b"), col("phash").as("hb")),
        Seq("b"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
    val within = hammingOf(plantedPairs).filter(col("hamming") <= 8)
      .select(col("a"), col("b")).localCheckpoint(eager = false)
    val farPairs = hammingOf(docs.as("i").join(docs.as("j"),
        col("j.doc_id") === col("i.doc_id") + 1)
      .select(col("i.doc_id").as("a"), col("j.doc_id").as("b")))
    rec.join(within, Seq("a", "b"))
      .agg(count(lit(1)).as("n_rec"))
      .crossJoin(within.agg(count(lit(1)).as("n_within")))
      .crossJoin(plantedPairs.agg(count(lit(1)).as("n_planted")))
      .crossJoin(farPairs.agg(count(lit(1)).as("n_far"),
        sum(when(col("hamming") <= 8, 1L).otherwise(0L)).as("n_far_near")))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hashes.agg(count(lit(1)).as("n_imgs")))
      .select(
        (col("n_rec") === col("n_within")).as("radius_recall_exact"),
        (lit(10) * col("n_within") >= lit(9) * col("n_planted"))
          .as("reencode_robust"),
        (lit(10) * col("n_far_near") <= col("n_far"))
          .as("patterns_discriminated"),
        (col("n_cand") <= lit(4096L) * col("n_imgs")).as("pair_budget_ok"),
        (col("n_within") > 0 && col("n_far") > 0).as("nonempty"))
  }

  // ------------------------------------------------ real WAV (RIFF/PCM16)

  /** Pure-JVM RIFF/WAVE PCM16 codec — a REAL audio container decode
    * (like [[PpmParser]] for images), replacing one more documented
    * stub: the container needs no codec library because PCM16 WAV is
    * just a chunked header over little-endian int16 samples. The
    * encoder emits a spec-shaped file (RIFF size, `fmt ` chunk with
    * PCM/mono/16-bit fields, a LIST junk chunk so decoders must
    * actually WALK chunks rather than assume a fixed 44-byte offset,
    * then `data`); the decoder walks chunks, validates magic/format,
    * and honors the spec's word-alignment padding rule (odd-sized
    * chunks are followed by a pad byte). */
  private[ext] object WavCodec extends Serializable {
    private def le32(bb: java.nio.ByteBuffer, v: Int): Unit = bb.putInt(v)
    private def le16(bb: java.nio.ByteBuffer, v: Int): Unit =
      bb.putShort(v.toShort)

    /** Encode mono PCM16 samples as a RIFF/WAVE byte array (with a
      * 7-byte LIST junk chunk + pad byte between fmt and data). */
    def encode(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val dataLen = samples.length * 2
      val junkLen = 7 // odd on purpose: exercises the pad-byte rule
      val riffLen = 4 + (8 + 16) + (8 + junkLen + 1) + (8 + dataLen)
      val bb = java.nio.ByteBuffer.allocate(8 + riffLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); le32(bb, riffLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); le32(bb, 16)
      le16(bb, 1) // audioFormat = PCM
      le16(bb, 1) // channels = mono
      le32(bb, sampleRate)
      le32(bb, sampleRate * 2) // byte rate
      le16(bb, 2) // block align
      le16(bb, 16) // bits per sample
      bb.put("LIST".getBytes("US-ASCII")); le32(bb, junkLen)
      bb.put(Array.fill[Byte](junkLen)(0x6a)); bb.put(0.toByte) // pad
      bb.put("data".getBytes("US-ASCII")); le32(bb, dataLen)
      samples.foreach(s => bb.putShort(s))
      bb.array()
    }

    /** Decode a mono PCM16 RIFF/WAVE file → (sampleRate, samples).
      * Fails loudly on non-RIFF bytes, non-PCM format, or a missing
      * data chunk — a media pipeline wants corrupt files rejected at
      * decode, not silently zero-filled. */
    def decode(bytes: Array[Byte]): (Int, Array[Short]) = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(): String = {
        val t = new Array[Byte](4); bb.get(t); new String(t, "US-ASCII")
      }
      require(tag() == "RIFF", "not a RIFF file")
      bb.getInt // riff size (trust the chunk walk, not this)
      require(tag() == "WAVE", "not a WAVE file")
      var sampleRate = -1
      var samples: Array[Short] = null
      while (bb.remaining() >= 8 && samples == null) {
        val id = tag(); val len = bb.getInt
        id match {
          case "fmt " =>
            require(len >= 16, s"fmt chunk too short: $len bytes")
            val fmt = bb.getShort; val ch = bb.getShort
            sampleRate = bb.getInt
            bb.getInt; bb.getShort // byte rate, block align
            val bits = bb.getShort
            require(fmt == 1 && ch == 1 && bits == 16,
              s"unsupported WAV: fmt=$fmt ch=$ch bits=$bits")
            // skip fmt extensions (cbSize etc.) + the spec's pad byte
            // on odd chunk lengths — same rule as the default branch
            bb.position(bb.position() + (len - 16) + (len & 1))
          case "data" =>
            require(sampleRate > 0, "data chunk before fmt chunk")
            samples = Array.fill(len / 2)(bb.getShort)
          case _ => // skip unknown chunk + spec pad byte on odd length
            bb.position(bb.position() + len + (len & 1))
        }
      }
      require(samples != null, "no data chunk")
      (sampleRate, samples)
    }
  }

  /** Real RIFF/AVI container codec — uncompressed 24-bit DIB frames
    * ('00db'), the video analog of [[WavCodec]]: the container a clip-
    * ingest stage must actually parse before any frame sampling can
    * happen (the fixed-layout sampler above keeps its own gate; this
    * one reads REAL container bytes). The encoder emits a spec-shaped
    * file — avih + one 'vids'/DIB stream header pair, 'movi' frame
    * chunks, and an idx1 index so players can seek; the decoder WALKS
    * lists/chunks (no fixed offsets), validates every magic, and
    * undoes the DIB conventions: bottom-up row order, BGR byte order,
    * rows padded to 4-byte boundaries. Fails loudly on corrupt bytes
    * (overrunning chunk, wrong bit depth, compressed frames) rather
    * than zero-filling. */
  private[ext] object AviCodec extends Serializable {

    /** Encode top-down RGB frames (3 bytes/pixel each) as RIFF/AVI. */
    def encode(w: Int, h: Int, frames: Array[Array[Byte]],
        fps: Int): Array[Byte] = {
      require(w > 0 && h > 0 && fps > 0 && frames.nonEmpty,
        "AVI encode: need positive dims/fps and >= 1 frame")
      frames.foreach(f =>
        require(f.length == w * h * 3, "frame length != w*h*3"))
      val stride = (w * 3 + 3) / 4 * 4 // DIB rows pad to 4 bytes
      val dib = stride * h             // multiple of 4 => chunk-even
      val n = frames.length
      val moviContent = 4 + n * (8 + dib)
      val riffContent = 4 + 200 + (8 + moviContent) + (8 + n * 16)
      val bb = java.nio.ByteBuffer.allocate(8 + riffContent)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fcc(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
      fcc("RIFF"); bb.putInt(riffContent); fcc("AVI ")
      fcc("LIST"); bb.putInt(192); fcc("hdrl")
      fcc("avih"); bb.putInt(56)
      bb.putInt(1000000 / fps) // microseconds per frame
      bb.putInt(fps * dib)     // max bytes/sec
      bb.putInt(0)             // padding granularity
      bb.putInt(0x10)          // AVIF_HASINDEX
      bb.putInt(n); bb.putInt(0) // total frames, initial frames
      bb.putInt(1)             // one stream
      bb.putInt(dib)           // suggested buffer size
      bb.putInt(w); bb.putInt(h)
      bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0) // reserved
      fcc("LIST"); bb.putInt(116); fcc("strl")
      fcc("strh"); bb.putInt(56)
      fcc("vids"); fcc("DIB ")
      bb.putInt(0); bb.putInt(0); bb.putInt(0) // flags, pri+lang, initial
      bb.putInt(1); bb.putInt(fps)             // scale, rate (fps = r/s)
      bb.putInt(0); bb.putInt(n)               // start, length (frames)
      bb.putInt(dib); bb.putInt(-1); bb.putInt(0) // sug. buf, quality, sampleSize
      bb.putShort(0); bb.putShort(0)           // rcFrame left, top
      bb.putShort(w.toShort); bb.putShort(h.toShort)
      fcc("strf"); bb.putInt(40)               // BITMAPINFOHEADER
      bb.putInt(40); bb.putInt(w); bb.putInt(h) // biSize, w, h>0 = bottom-up
      bb.putShort(1); bb.putShort(24)          // planes, bit count
      bb.putInt(0); bb.putInt(dib)             // BI_RGB, biSizeImage
      bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0) // ppm, colors
      fcc("LIST"); bb.putInt(moviContent); fcc("movi")
      val offs = new Array[Int](n)
      var off = 4 // idx1 offsets are relative to the 'movi' fourcc
      var f = 0
      while (f < n) {
        offs(f) = off
        fcc("00db"); bb.putInt(dib)
        val src = frames(f)
        var y = h - 1 // DIB stores rows bottom-up
        while (y >= 0) {
          var x = 0
          while (x < w) { // ... and pixels as BGR
            val i = (y * w + x) * 3
            bb.put(src(i + 2)); bb.put(src(i + 1)); bb.put(src(i))
            x += 1
          }
          var p = w * 3
          while (p < stride) { bb.put(0.toByte); p += 1 }
          y -= 1
        }
        off += 8 + dib
        f += 1
      }
      fcc("idx1"); bb.putInt(n * 16)
      f = 0
      while (f < n) {
        fcc("00db"); bb.putInt(0x10) // AVIIF_KEYFRAME
        bb.putInt(offs(f)); bb.putInt(dib)
        f += 1
      }
      bb.array()
    }

    /** Decode → (w, h, top-down RGB frames). */
    def decode(bytes: Array[Byte]): (Int, Int, Array[Array[Byte]]) = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fcc(): String = {
        val t = new Array[Byte](4); bb.get(t); new String(t, "US-ASCII")
      }
      require(bytes.length >= 12 && fcc() == "RIFF", "not a RIFF file")
      val riffLen = bb.getInt
      require(riffLen >= 4 && fcc() == "AVI ", "not an AVI file")
      var w = -1; var h = -1
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      def walk(end: Int): Unit = {
        while (bb.position() + 8 <= end) {
          val id = fcc()
          val len = bb.getInt
          require(len >= 0 && bb.position() + len <= end,
            s"corrupt AVI: chunk '$id' overruns its parent")
          val next = bb.position() + len + (len & 1) // RIFF pad rule
          id match {
            case "LIST" =>
              val lt = fcc()
              if (lt == "hdrl" || lt == "strl" || lt == "movi")
                walk(bb.position() + len - 4)
            case "strf" =>
              require(len >= 40, s"corrupt AVI: strf is $len bytes")
              bb.getInt // biSize
              w = bb.getInt; h = bb.getInt
              require(w > 0 && h > 0, s"corrupt AVI: ${w}x$h")
              bb.getShort // planes
              val bits = bb.getShort.toInt
              val comp = bb.getInt
              require(bits == 24 && comp == 0,
                s"unsupported AVI: bits=$bits compression=$comp")
            case "00db" =>
              require(w > 0 && h > 0,
                "corrupt AVI: frame chunk before stream format")
              val stride = (w * 3 + 3) / 4 * 4
              require(len == stride * h,
                s"corrupt AVI: frame size $len != $stride*$h")
              val dib = new Array[Byte](len); bb.get(dib)
              val rgb = new Array[Byte](w * h * 3)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val s = (h - 1 - y) * stride + x * 3 // undo bottom-up
                  val d = (y * w + x) * 3
                  rgb(d) = dib(s + 2)                  // undo BGR
                  rgb(d + 1) = dib(s + 1)
                  rgb(d + 2) = dib(s)
                  x += 1
                }
                y += 1
              }
              frames += rgb
            case "00dc" =>
              throw new IllegalArgumentException(
                "unsupported AVI: compressed frames")
            case _ => // avih/strh/idx1/junk: sizes validated, content unused
          }
          bb.position(next)
        }
      }
      walk(math.min(bytes.length, 8 + riffLen))
      require(frames.nonEmpty, "corrupt AVI: no frame chunks")
      (w, h, frames.toArray)
    }
  }

  final case class AviFrameStats(doc_id: Long, frame_idx: Int,
      sum_b: Long, max_b: Int)

  /** Real ISO-BMFF (MP4, ISO 14496-12) container codec — the OTHER
    * video container a clip-ingest stage meets (AVI is chunk-stream
    * shaped; MP4 is index-shaped: all layout lives in the `moov`
    * sample tables and the media bytes sit in one opaque `mdat`). The
    * encoder writes the real box tree — ftyp, mdat, moov/mvhd,
    * trak/tkhd, mdia/mdhd+hdlr, minf/vmhd+dinf/dref,
    * stbl/stsd+stts+stsc+stsz+stco — with samples grouped two per
    * chunk so the sample-to-chunk resolution is non-trivial (a
    * remainder chunk exercises the stsc entry-range logic). The
    * decoder walks boxes by DECLARED size (never by magic scanning),
    * resolves each sample's (pts, size, absolute file offset) from the
    * four tables exactly as a demuxer does, and slices the frame bytes
    * out of mdat — frame EXTRACTION without decode, which is all a
    * sampling pipeline needs. Fails loudly on overrunning boxes,
    * missing tables, or out-of-mdat offsets. Codec payloads are
    * opaque by design (sample entry fourcc 'gvid'): real decode is the
    * stubbed step per the multimodal brief; the container plumbing is
    * the tested, real part. */
  private[ext] object Mp4Codec extends Serializable {

    private def u32(v: Long): Array[Byte] = Array(
      ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
      ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)

    private def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      u32(body.length + 8L) ++
        typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ body
    }

    /** Encode opaque samples at a constant `delta` ticks/sample. The
      * layout is mdat-before-moov (offsets computable in one pass). */
    def encode(samples: Array[Array[Byte]], timescale: Int,
        delta: Int): Array[Byte] = {
      require(samples.nonEmpty && timescale > 0 && delta > 0,
        "MP4 encode: need >= 1 sample and positive timing")
      val n = samples.length
      val ftyp = box("ftyp", "isom".getBytes, u32(0), "isom".getBytes)
      val mdatStart = ftyp.length + 8L // first media byte's file offset
      val mdat = box("mdat", samples.flatten.toArray)
      // Chunks of 2 samples (+ remainder single): chunk i covers
      // samples [2i, 2i+2).
      val nChunks = (n + 1) / 2
      val chunkOffsets = Array.tabulate(nChunks) { c =>
        mdatStart + samples.take(2 * c).map(_.length.toLong).sum
      }
      val duration = n.toLong * delta
      val mvhd = box("mvhd", u32(0), u32(0), u32(0), u32(timescale),
        u32(duration), u32(0x00010000L), u32(0x01000000L), u32(0),
        u32(0),
        // identity matrix + predefineds + next-track-id
        u32(0x00010000L), u32(0), u32(0), u32(0), u32(0x00010000L),
        u32(0), u32(0), u32(0), u32(0x40000000L),
        u32(0), u32(0), u32(0), u32(0), u32(0), u32(0), u32(2))
      val tkhd = box("tkhd", u32(7), u32(0), u32(0), u32(1), u32(0),
        u32(duration), u32(0), u32(0), u32(0), u32(0),
        u32(0x00010000L), u32(0), u32(0), u32(0), u32(0x00010000L),
        u32(0), u32(0), u32(0), u32(0x40000000L), u32(0), u32(0))
      val mdhd = box("mdhd", u32(0), u32(0), u32(0), u32(timescale),
        u32(duration), u32(0x55c40000L)) // 'und' language + predefined
      val hdlr = box("hdlr", u32(0), u32(0), "vide".getBytes,
        u32(0), u32(0), u32(0), Array(0.toByte))
      val stsd = box("stsd", u32(0), u32(1),
        box("gvid", new Array[Byte](6), Array(0.toByte, 1.toByte)))
      val stts = box("stts", u32(0), u32(1), u32(n), u32(delta))
      val stscEntries =
        if (n % 2 == 0) Seq(u32(1), u32(2), u32(1))
        else if (n == 1) Seq(u32(1), u32(1), u32(1))
        else Seq(u32(1), u32(2), u32(1),
          u32(nChunks.toLong), u32(1), u32(1))
      val stsc = box("stsc", u32(0),
        u32(if (n % 2 == 0 || n == 1) 1 else 2),
        stscEntries.flatten.toArray)
      val stsz = box("stsz", u32(0), u32(0), u32(n),
        samples.flatMap(sm => u32(sm.length.toLong)))
      val stco = box("stco", u32(0), u32(nChunks.toLong),
        chunkOffsets.flatMap(u32))
      val stbl = box("stbl", stsd, stts, stsc, stsz, stco)
      val dref = box("dref", u32(0), u32(1),
        box("url ", u32(1))) // self-contained flag
      val minf = box("minf", box("vmhd", u32(1), u32(0), u32(0)),
        box("dinf", dref), stbl)
      val moov = box("moov", mvhd,
        box("trak", tkhd, box("mdia", mdhd, hdlr, minf)))
      ftyp ++ mdat ++ moov
    }

    private def ru32(b: Array[Byte], p: Int): Long = {
      require(p + 4 <= b.length, s"corrupt MP4: u32 read past end at $p")
      ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
        ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
    }

    private def fourcc(b: Array[Byte], p: Int): String =
      new String(b, p, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** Child box (start, end) offsets of the range [from, to). */
    private def children(b: Array[Byte], from: Int, to: Int)
        : Seq[(String, Int, Int)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
      var p = from
      while (p < to) {
        val size = ru32(b, p)
        require(size >= 8 && p + size <= to,
          s"corrupt MP4: box at $p overruns enclosing range")
        out += ((fourcc(b, p + 4), p + 8, p + size.toInt))
        p += size.toInt
      }
      out.toSeq
    }

    private def find(b: Array[Byte], from: Int, to: Int,
        path: Seq[String]): (Int, Int) =
      path.foldLeft((from, to)) { case ((f, t), typ) =>
        children(b, f, t).find(_._1 == typ)
          .map(c => (c._2, c._3))
          .getOrElse(sys.error(s"corrupt MP4: missing box $typ"))
      }

    /** Demux: (timescale, per-sample (pts, bytes)) from the tables. */
    def decode(bytes: Array[Byte]): (Int, Array[(Long, Array[Byte])]) = {
      val top = children(bytes, 0, bytes.length)
      require(top.exists(_._1 == "ftyp"), "corrupt MP4: no ftyp")
      val (moovF, moovT) = {
        val m = top.find(_._1 == "moov")
          .getOrElse(sys.error("corrupt MP4: missing box moov"))
        (m._2, m._3)
      }
      val (mdhdF, _) =
        find(bytes, moovF, moovT, Seq("trak", "mdia", "mdhd"))
      val timescale = ru32(bytes, mdhdF + 12).toInt
      val (stblF, stblT) =
        find(bytes, moovF, moovT, Seq("trak", "mdia", "minf", "stbl"))
      val tabs = children(bytes, stblF, stblT)
        .map(c => c._1 -> (c._2, c._3)).toMap
      def tab(t: String) =
        tabs.getOrElse(t, sys.error(s"corrupt MP4: missing box $t"))
      // stts → per-sample pts (cumulative over runs).
      val (sttsF, _) = tab("stts")
      val nRuns = ru32(bytes, sttsF + 4).toInt
      val pts = scala.collection.mutable.ArrayBuffer.empty[Long]
      var t = 0L
      for (r <- 0 until nRuns) {
        val cnt = ru32(bytes, sttsF + 8 + 8 * r).toInt
        val d = ru32(bytes, sttsF + 12 + 8 * r)
        for (_ <- 0 until cnt) { pts += t; t += d }
      }
      // stsz → sizes.
      val (stszF, _) = tab("stsz")
      val fixed = ru32(bytes, stszF + 4)
      val nSamples = ru32(bytes, stszF + 8).toInt
      require(pts.length == nSamples,
        "corrupt MP4: stts/stsz sample counts disagree")
      val sizes = Array.tabulate(nSamples) { i =>
        if (fixed != 0) fixed else ru32(bytes, stszF + 12 + 4 * i)
      }
      // stco chunk offsets + stsc runs → per-chunk sample counts.
      val (stcoF, _) = tab("stco")
      val nChunks = ru32(bytes, stcoF + 4).toInt
      val offsets = Array.tabulate(nChunks)(c =>
        ru32(bytes, stcoF + 8 + 4 * c))
      val (stscF, _) = tab("stsc")
      val nEntries = ru32(bytes, stscF + 4).toInt
      val entries = Array.tabulate(nEntries)(e => (
        ru32(bytes, stscF + 8 + 12 * e).toInt, // first_chunk (1-based)
        ru32(bytes, stscF + 12 + 12 * e).toInt)) // samples_per_chunk
      val perChunk = Array.tabulate(nChunks) { c =>
        entries.takeWhile(_._1 <= c + 1).lastOption
          .getOrElse(sys.error("corrupt MP4: stsc covers no chunks"))._2
      }
      require(perChunk.sum == nSamples,
        "corrupt MP4: stsc/stsz sample counts disagree")
      // Walk chunks, slice samples out of mdat.
      val out = new Array[(Long, Array[Byte])](nSamples)
      var s = 0
      for (c <- 0 until nChunks) {
        var off = offsets(c)
        for (_ <- 0 until perChunk(c)) {
          val sz = sizes(s)
          require(off + sz <= bytes.length,
            s"corrupt MP4: sample $s overruns file")
          out(s) = (pts(s),
            java.util.Arrays.copyOfRange(bytes, off.toInt,
              (off + sz).toInt))
          off += sz
          s += 1
        }
      }
      (timescale, out)
    }
  }

  final case class Mp4FrameStats(doc_id: Long, frame_idx: Int,
      pts: Long, n_bytes: Int, sum_b: Long, max_b: Int)

  /** E5n: REAL video-container ingest — each document's bytes become 6
    * frames of 6×8 RGB (zero-padded; width 6 makes the DIB stride 20,
    * so the row-padding path is exercised, not just the aligned one),
    * wrapped in a real RIFF/AVI container and parsed back by the real
    * chunk-walking decoder. Per-frame INTEGER byte stats are restated
    * by DuckDB from the same byte construction, and decoded pixels are
    * required bit-equal to the source frames in-plan — a row-order,
    * BGR, stride, or cursor bug fails loudly, not statistically.
    * mapPartitions only for the codec work; one map pass, no shuffle
    * until the final order — the 100 TB clip-prep shape. */
  private val e5AviFrames: Q = (s, dir) => {
    import s.implicits._
    val (w, h, nf) = (6, 8, 6)
    val fb = w * h * 3 // 144 bytes per frame
    t(s, dir, "documents")
      .select(col("doc_id").cast("long"),
        asciiOnly(coalesce(col("text"), lit(""))).cast("binary").as("bin"))
      .transform(Tables.spread)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          val frames = Array.tabulate(nf) { f =>
            val a = new Array[Byte](fb)
            var i = 0
            while (i < fb) {
              val p = f * fb + i
              a(i) = if (p < bytes.length) bytes(p) else 0
              i += 1
            }
            a
          }
          val (dw, dh, dec) = AviCodec.decode(
            AviCodec.encode(w, h, frames, fps = 12))
          require(dw == w && dh == h && dec.length == nf &&
            dec.zip(frames).forall { case (a, b) =>
              java.util.Arrays.equals(a, b) },
            s"AVI round-trip mismatch for doc $id")
          dec.iterator.zipWithIndex.map { case (fr, idx) =>
            var sum = 0L; var max = 0
            var i = 0
            while (i < fr.length) {
              val b = fr(i) & 0xff
              sum += b; if (b > max) max = b
              i += 1
            }
            AviFrameStats(id, idx, sum, max)
          }
        }
      }.toDF().orderBy(col("doc_id"), col("frame_idx"))
  }

  /** E5o: MP4/ISO-BMFF ingest — the INDEX-shaped container next to
    * AVI's stream shape: each document's bytes become 6 opaque frames
    * of VARYING size (96+3f bytes — per-sample stsz, not the fixed
    * fast path), two samples per chunk (stsc run resolution plus a
    * remainder chunk), encoded as a real box tree and demuxed back by
    * [[Mp4Codec.decode]] from the four sample tables. In-plan require:
    * bit-equal frame payloads, exact pts from stts, exact timescale
    * from mdhd. Per-frame INTEGER byte stats + pts + size are restated
    * by DuckDB from the same closed-form layout (start_f = 96f +
    * 3f(f−1)/2) — an off-by-one anywhere in the chunk-offset walk
    * hash-fails. */
  private val e5Mp4Frames: Q = (s, dir) => {
    import s.implicits._
    val nf = 6
    t(s, dir, "documents")
      .select(col("doc_id").cast("long"),
        asciiOnly(coalesce(col("text"), lit(""))).cast("binary").as("bin"))
      .transform(Tables.spread)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          var start = 0
          val frames = Array.tabulate(nf) { f =>
            val sz = 96 + 3 * f
            val a = new Array[Byte](sz)
            var i = 0
            while (i < sz) {
              val p = start + i
              a(i) = if (p < bytes.length) bytes(p) else 0
              i += 1
            }
            start += sz
            a
          }
          val (ts, dec) = Mp4Codec.decode(
            Mp4Codec.encode(frames, timescale = 600, delta = 100))
          require(ts == 600 && dec.length == nf &&
            dec.zip(frames).zipWithIndex.forall { case (((p, b), src), f) =>
              p == 100L * f && java.util.Arrays.equals(b, src) },
            s"MP4 round-trip mismatch for doc $id")
          dec.iterator.zipWithIndex.map { case ((pts, fr), idx) =>
            var sum = 0L; var max = 0
            var i = 0
            while (i < fr.length) {
              val b = fr(i) & 0xff
              sum += b; if (b > max) max = b
              i += 1
            }
            Mp4FrameStats(id, idx, pts, fr.length, sum, max)
          }
        }
      }.toDF().orderBy(col("doc_id"), col("frame_idx"))
  }

  final case class WavStats(id: Long, n_samples: Int, sample_rate: Int,
      sum_s: Long, min_s: Int, max_s: Int)

  /** Deterministic integer-sawtooth PCM16 synth encoded as REAL WAV
    * bytes: sample_t = (((t·(id%7+1)) mod 200) − 100)·50. Integer
    * arithmetic end-to-end, so the decoded sample VALUES are exactly
    * restatable in SQL — the value-level oracle a trig synth can't
    * give (engine `sin` ULP differences flip int16 quantization at
    * rounding boundaries). */
  def synthWav(df: DataFrame, idCol: String): DataFrame = {
    import df.sparkSession.implicits._
    Tables.spread(df.select(col(idCol).cast("long")))
      .as[Long].mapPartitions { ids =>
      ids.map { id =>
        val m = (id % 7 + 1).toInt
        val samples = Array.tabulate(AudioN)(t =>
          (((t * m) % 200 - 100) * 50).toShort)
        (id, WavCodec.encode(samples, 8000))
      }
    }.toDF("id", "wav")
  }

  /** Partition-batched WAV decode → per-clip sample statistics (the
    * value-level surface the oracle restates). Same mapPartitions
    * shape as [[decodePartitioned]]: codec init amortizes per
    * partition, map-only, no shuffle. */
  def wavStats(df: DataFrame, idCol: String, wavCol: String)
      : Dataset[WavStats] = {
    import df.sparkSession.implicits._
    Tables.spread(
        df.select(col(idCol).cast("long"), col(wavCol).cast("binary")))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val (rate, x) = WavCodec.decode(bytes)
          WavStats(id, x.length, rate, x.map(_.toLong).sum,
            x.map(_.toInt).min, x.map(_.toInt).max)
        }
      }
  }

  /** E5i: REAL WAV decode under a VALUE-LEVEL oracle — the synthesized
    * integer sawtooth round-trips through a spec-shaped RIFF container
    * (junk chunk + odd-length padding included, so the decoder's chunk
    * walk is load-bearing) and the decoded samples' per-clip count/
    * sum/min/max must equal DuckDB's restatement of the synth formula.
    * A byte-order slip, an off-by-one chunk offset, or a truncated
    * data read all corrupt the checksums and hash-fail. */
  private val e5WavDecode: Q = (s, dir) => {
    val wav = synthWav(t(s, dir, "embeddings"), "vec_id")
    wavStats(wav, "id", "wav").toDF().orderBy(col("id"))
  }

  /** E5j ✱: the decoded WAV samples feed the EXISTING DFT feature path
    * — a trig tone at bin (id%100+3) is quantized to int16, encoded as
    * RIFF/PCM16, decoded back, normalized to [−1, 1), and pushed
    * through [[spectralFeatures]]' transform: every clip's dominant
    * bin must equal the synthesized tone's bin, Parseval must hold
    * (the identity is exact for ANY input, quantized or not — only
    * the transform can break it), and every clip must decode to the
    * full 256 samples. */
  private val e5WavSpectral: Q = (s, dir) => {
    import s.implicits._
    val wav = t(s, dir, "embeddings")
      .select(col("vec_id").cast("long")).transform(Tables.spread)
      .as[Long].mapPartitions { ids =>
        ids.map { id =>
          val k = (id % 100 + 3).toInt
          val samples = Array.tabulate(AudioN) { tt =>
            val v = 0.6 * math.sin(2 * math.Pi * k * tt / AudioN) +
              0.25 * math.sin(2 * math.Pi * (2 * k) * tt / AudioN)
            (v * 32000.0).toInt.toShort
          }
          (id, WavCodec.encode(samples, 8000))
        }
      }.toDF("id", "wav")
    val feats = wav.as[(Long, Array[Byte])].mapPartitions { rows =>
      rows.map { case (id, bytes) =>
        val (_, pcm) = WavCodec.decode(bytes)
        val x = pcm.map(_.toDouble / 32768.0)
        dftFeatures(id, x)
      }
    }
    feats.toDF().agg(
      expr("bool_and(dominant_bin = (id % 100 + 3))").as("tones_located"),
      expr("bool_and(parseval_err <= 1e-9)").as("parseval_holds"),
      expr("bool_and(n_samples = 256)").as("full_clips"),
      (count(lit(1)) > 0).as("nonempty"))
  }

  /** E5f ✱: synth → byte column → partition-batched DFT, gated by
    * physics: every clip's dominant bin equals the synthesized tone's
    * bin and the Parseval identity holds to 1e-9 — a wrong pack/unpack,
    * a broken DFT, or row mix-ups all fail in-plan. */
  private val e5Spectral: Q = (s, dir) => {
    val wav = synthPcm(t(s, dir, "embeddings"), "vec_id")
    spectralFeatures(wav, "id", "wav").toDF()
      .agg(
        expr("bool_and(dominant_bin = (id % 100 + 3))").as("tones_located"),
        expr("bool_and(parseval_err <= 1e-9)").as("parseval_holds"),
        expr("bool_and(n_samples = 256)").as("full_clips"),
        (count(lit(1)) > 0).as("nonempty"))
  }

  /** E5g: perceptual-hash image near-dup — the multimodal counterpart
    * of text MinHash dedup: decode → 64-bit aHash → banded LSH join
    * (4×16-bit bands, pigeonhole-exact for Hamming ≤ 3) → exact
    * Hamming refine. Planted near-identical images (one character of
    * every 10th doc's pixel window flipped — measured Hamming ≤ 2 at
    * both gate SFs) must ALL be recovered, and the candidate volume
    * stays under an ABSOLUTE 512·n budget (measured 29/img at sf0.01,
    * 316/img at sf0.1 — text-derived images cluster far more than
    * photographs; at corpus scale the band width grows ~log₂(n) bits
    * over a wider pHash, exactly as MinHash banding re-tunes). All
    * arithmetic downstream of the decoder is integer, so the gate is
    * deterministic. */
  private val e5PhashNearDup: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val perturbed = when(length(col("text")) > 100,
      concat(substring(col("text"), 1, 99), lit("z"),
        expr("substring(text, 101)"))).otherwise(col("text"))
    val planted = docs.unionByName(
      docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          perturbed.as("text")))
    val hashes = ppmAHash(
      planted.withColumn("img", ppmImage), "doc_id", "img").toDF()
    val bands = hashes.select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("key",
        expr("shiftrightunsigned(phash, band * 16) & 65535"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.phash").as("ha"), col("y.phash").as("hb"))
      .distinct()
    val pairs = cand
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= 3)
    val plantedPairs = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("a"), (col("doc_id") + 500000L).as("b"))
    pairs.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hashes.agg(count(lit(1)).as("n_imgs")))
      .crossJoin(pairs.join(plantedPairs, Seq("a", "b"))
        .agg(count(lit(1)).as("n_rec")))
      .crossJoin(plantedPairs.agg(count(lit(1)).as("n_planted")))
      .select(
        (col("n_rec") === col("n_planted")).as("recall_ok"),
        (col("n_cand") <= lit(512L) * col("n_imgs")).as("pair_budget_ok"),
        (col("n_pairs") >= col("n_planted")).as("pairs_cover_planted"))
  }

  /** E5r ✱: DCT-pHash near-dup — [[dctPhash]] under the LSH contract:
    * 9 bands × 7 bits over the 63 meaningful bits, so the banding is
    * PIGEONHOLE-EXACT for Hamming ≤ 8 (9 bands, ≤ 8 dirty bits → one
    * band clean), then exact Hamming refine at that radius. The gate
    * states the honest LSH promise: every planted pair WITHIN the
    * radius is recovered (equality, not a rate), the radius actually
    * captures the plant family (≥ 90% of planted pairs land within —
    * integer predicate, no float threshold), and the candidate volume
    * stays under an ABSOLUTE 4096·n budget (7-bit keys are coarser
    * than the aHash query's 16-bit bands — measured ~130/img at
    * sf0.01, ~1091/img at sf0.1; at corpus scale band width grows
    * ~log₂(n) bits, the MinHash re-tuning rule). */
  private val e5DctPhash: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val perturbed = when(length(col("text")) > 100,
      concat(substring(col("text"), 1, 99), lit("z"),
        expr("substring(text, 101)"))).otherwise(col("text"))
    val planted = docs.unionByName(
      docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 600000L).as("doc_id"),
          perturbed.as("text")))
    val hashes = dctPhash(planted, "doc_id", "text").toDF()
      .localCheckpoint(eager = false) // hashed once, read three times
    val bands = hashes.select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(8))).as("band"))
      .withColumn("key",
        expr("shiftrightunsigned(phash, band * 7) & 127"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.phash").as("ha"), col("y.phash").as("hb"))
      .distinct()
    val pairs = cand
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= 8)
    val plantedPairs = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("a"), (col("doc_id") + 600000L).as("b"))
    val withinRadius = plantedPairs
      .join(hashes.select(col("doc_id").as("a"), col("phash").as("ha")),
        Seq("a"))
      .join(hashes.select(col("doc_id").as("b"), col("phash").as("hb")),
        Seq("b"))
      .filter(expr("bit_count(ha ^ hb)") <= 8)
      .select(col("a"), col("b"))
    pairs.join(withinRadius, Seq("a", "b"))
      .agg(count(lit(1)).as("n_rec"))
      .crossJoin(withinRadius.agg(count(lit(1)).as("n_within")))
      .crossJoin(plantedPairs.agg(count(lit(1)).as("n_planted")))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hashes.agg(count(lit(1)).as("n_imgs")))
      .select(
        (col("n_rec") === col("n_within")).as("radius_recall_exact"),
        (lit(10) * col("n_within") >= lit(9) * col("n_planted"))
          .as("radius_covers_plants"),
        (col("n_cand") <= lit(4096L) * col("n_imgs")).as("pair_budget_ok"),
        (col("n_within") > 0).as("nonempty"))
  }

  /** E5f: video frame sampling through the gate — each document's
    * bytes are a fixed-layout 12-frame × 32-byte "video", every 3rd
    * frame is sampled through the real mapPartitions slicer, and the
    * scene-cut signal is the |Δ mean| between consecutive sampled
    * frames (first frame: 0). DuckDB re-derives every sampled frame's
    * byte stats from the same construction, so a wrong slice offset, a
    * dropped frame, or a stride bug all hash-fail. Deltas compute from
    * UNROUNDED means on both engines (exact: 32 = 2^5). */
  private val e5FrameSample: Q = (s, dir) => {
    val frames = frameSample(
      t(s, dir, "documents").withColumn("vid",
        asciiOnly(coalesce(col("text"), lit(""))).cast("binary")),
      "doc_id", "vid", frameBytes = 32, nFrames = 12, stride = 3).toDF()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("cut_delta", round(abs(col("mean_b") -
        coalesce(lag(col("mean_b"), 1).over(w), col("mean_b"))), 4))
      .select(col("doc_id"), col("frame_idx"),
        round(col("mean_b"), 4).as("mean_b"), col("max_b"),
        col("cut_delta"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  final case class ResampleStats(id: Long, n_out: Int, out_rate: Int,
      sum_out: Long, min_out: Int, max_out: Int)

  /** 2:1 box (pair-average) resample over decoded PCM16 samples —
    * out[t] = (x[2t] + x[2t+1]) / 2, the audio analog of
    * [[boxDownsample2x]]. The synth sawtooth's samples are all
    * multiples of 50, so every pair sum is even and the halving is
    * EXACT integer arithmetic — no floor-direction ambiguity crosses
    * the engine boundary. */
  private[ext] def resamplePairs(x: Array[Short]): Array[Short] = {
    val out = new Array[Short](x.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((x(2 * i) + x(2 * i + 1)) / 2).toShort
      i += 1
    }
    out
  }

  /** E5m: decode → 2:1 resample → per-clip stats under a VALUE-LEVEL
    * oracle (the formula's pair means restated in SQL). Same
    * partition-batched map-only shape as [[wavStats]]: decode cost
    * amortizes per partition, no shuffle — the 100 TB audio-prep
    * plan. */
  private val e5AudioResample: Q = (s, dir) => {
    import s.implicits._
    synthWav(t(s, dir, "embeddings"), "vec_id")
      .as[(Long, Array[Byte])].mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val (rate, x) = WavCodec.decode(bytes)
          val y = resamplePairs(x)
          ResampleStats(id, y.length, rate / 2, y.map(_.toLong).sum,
            y.map(_.toInt).min, y.map(_.toInt).max)
        }
      }.toDF().orderBy(col("id"))
  }

  /** Energy-delta audio fingerprint over decoded PCM16: 32 frames of 8
    * samples, integer energy E_i = Σ s², bit i set iff E_{i+1} > E_i
    * (strict — ties are 0 in both engines). Chromaprint's shape with
    * the float DFT replaced by exact integer energies, so the
    * fingerprint itself is value-level oracle-able. */
  private[ext] def energyFingerprint(x: Array[Short]): Long = {
    val frames = 32
    val flen = x.length / frames
    val e = Array.tabulate(frames) { f =>
      var s = 0L; var t = f * flen
      while (t < (f + 1) * flen) { s += x(t).toLong * x(t); t += 1 }
      s
    }
    var fp = 0L
    var i = 0
    while (i < frames - 1) {
      if (e(i + 1) > e(i)) fp |= 1L << i
      i += 1
    }
    fp
  }

  /** E5n: audio near-dup via energy fingerprints — decode the synth
    * clips, fingerprint each, group identical prints: the sawtooth has
    * exactly 7 waveform classes (m = id mod 7 + 1), so the groups ARE
    * the duplicate classes and a single wrong energy or flipped bit
    * splits a group and hash-fails. DuckDB recomputes frame energies
    * from the synth formula and rebuilds each print bit by bit —
    * value-level end to end (integer energies make that possible where
    * a float-DFT print would be engine-specific). Map-only decode +
    * one fingerprint-keyed rollup. */
  private val e5AudioPhash: Q = (s, dir) => {
    import s.implicits._
    synthWav(t(s, dir, "embeddings"), "vec_id")
      .as[(Long, Array[Byte])].mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val (_, x) = WavCodec.decode(bytes)
          (id, energyFingerprint(x))
        }
      }.toDF("id", "fp")
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_clips"), min(col("id")).as("min_id"))
      .orderBy(col("fp"))
  }

  val queries: Map[String, Q] = Map(
    "e5_audio_phash" -> e5AudioPhash,
    "e5_audio_resample" -> e5AudioResample,
    "e5_frame_sample" -> e5FrameSample,
    "e5_avi_frames" -> e5AviFrames,
    "e5_mp4_frames" -> e5Mp4Frames,
    "e5_phash_neardup" -> e5PhashNearDup,
    "e5_spectral" -> e5Spectral,
    "e5_wav_decode" -> e5WavDecode,
    "e5_wav_spectral" -> e5WavSpectral,
    "e5_png_decode" -> e5PngDecode,
    "e5_gif_decode" -> e5GifDecode,
    "e5_jpeg_decode" -> e5JpegDecode,
    "e5_jpeg_phash" -> e5JpegPhash,
    "e5_jpeg_encode" -> e5JpegEncode,
    "e5_dct_phash" -> e5DctPhash,
    "e5_meta_strip" -> e5MetaStrip,
    "e5_resize_box" -> e5ResizeBox,
    "e5_binary_meta" -> e5BinaryMeta,
    "e5_vector_join" -> e5VectorJoin,
    "e5_decode_batch" -> e5DecodeBatch,
    "e5_ppm_decode" -> e5PpmDecode,
    "e5_pipeline" -> e5Pipeline,
  )

  val oracles: Map[String, String] = Map(
    // Sampled-frame byte stats from the same fixed layout: frame f's
    // byte i is the document's (f·32 + i)-th byte or 0 padding; frames
    // 0,3,6,9 are the stride-3 sample. NULL text ⇒ strlen NULL ⇒ every
    // CASE falls to 0 — the all-zero video, matching coalesce('').
    // AVI gate: the container round-trips in-plan (required bit-equal),
    // so the oracle restates the per-frame byte stats straight from the
    // 144-byte zero-padded frame construction — same NULL-text rule as
    // e5_frame_sample (strlen NULL => every CASE falls to 0).
    "e5_avi_frames" ->
      """WITH a AS (
        |  SELECT doc_id, regexp_replace(text, '[^\x00-\x7F]', '', 'g') AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, fr::INT AS frame_idx,
        |    list_sum(list_transform(range(0, 144), i ->
        |      CASE WHEN fr*144 + i + 1 <= strlen(t)
        |           THEN ord(substr(t, (fr*144 + i + 1)::INT, 1))
        |           ELSE 0 END))::BIGINT AS sum_b,
        |    list_max(list_transform(range(0, 144), i ->
        |      CASE WHEN fr*144 + i + 1 <= strlen(t)
        |           THEN ord(substr(t, (fr*144 + i + 1)::INT, 1))
        |           ELSE 0 END))::INT AS max_b
        |  FROM a, unnest(range(0, 6)) AS s(fr))
        |SELECT doc_id, frame_idx, sum_b, max_b
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    // Closed-form layout: frame f is bytes [start_f, start_f+96+3f)
    // of the ascii-stripped text, zero-padded; start_f = 96f+3f(f-1)/2.
    "e5_mp4_frames" ->
      """WITH a AS (
        |  SELECT doc_id, regexp_replace(text, '[^\x00-\x7F]', '', 'g') AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, fr::INT AS frame_idx, (fr * 100)::BIGINT AS pts,
        |    (96 + 3*fr)::INT AS n_bytes,
        |    list_sum(list_transform(range(0, (96 + 3*fr)::INT), i ->
        |      CASE WHEN 96*fr + 3*fr*(fr-1)//2 + i + 1 <= strlen(t)
        |           THEN ord(substr(t, (96*fr + 3*fr*(fr-1)//2 + i + 1)::INT, 1))
        |           ELSE 0 END))::BIGINT AS sum_b,
        |    list_max(list_transform(range(0, (96 + 3*fr)::INT), i ->
        |      CASE WHEN 96*fr + 3*fr*(fr-1)//2 + i + 1 <= strlen(t)
        |           THEN ord(substr(t, (96*fr + 3*fr*(fr-1)//2 + i + 1)::INT, 1))
        |           ELSE 0 END))::INT AS max_b
        |  FROM a, unnest(range(0, 6)) AS s(fr))
        |SELECT doc_id, frame_idx, pts, n_bytes, sum_b, max_b
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    "e5_frame_sample" ->
      """WITH a AS (
        |  SELECT doc_id, regexp_replace(text, '[^\x00-\x7F]', '', 'g') AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, fr::INT AS frame_idx,
        |    list_sum(list_transform(range(0, 32), i ->
        |      CASE WHEN fr*32 + i + 1 <= strlen(t)
        |           THEN ord(substr(t, (fr*32 + i + 1)::INT, 1))
        |           ELSE 0 END))::DOUBLE / 32.0 AS mean_raw,
        |    list_max(list_transform(range(0, 32), i ->
        |      CASE WHEN fr*32 + i + 1 <= strlen(t)
        |           THEN ord(substr(t, (fr*32 + i + 1)::INT, 1))
        |           ELSE 0 END))::INT AS max_b
        |  FROM a, unnest(range(0, 12, 3)) AS s(fr)),
        |d AS (
        |  SELECT doc_id, frame_idx, mean_raw, max_b,
        |    round(abs(mean_raw - coalesce(lag(mean_raw) OVER (
        |      PARTITION BY doc_id ORDER BY frame_idx), mean_raw)), 4)
        |      AS cut_delta
        |  FROM f)
        |SELECT doc_id, frame_idx, round(mean_raw, 4) AS mean_b, max_b,
        |  cut_delta
        |FROM d ORDER BY doc_id, frame_idx""".stripMargin,
    "e5_phash_neardup" ->
      """SELECT true AS recall_ok, true AS pair_budget_ok,
        |  true AS pairs_cover_planted""".stripMargin,
    "e5_spectral" ->
      """SELECT true AS tones_located, true AS parseval_holds,
        |  true AS full_clips, true AS nonempty""".stripMargin,
    // VALUE-LEVEL restatement of the decoded samples: the integer
    // sawtooth formula recomputed per (id, t) — a decode byte slip
    // breaks the checksums.
    // Frame energies recomputed from the synth formula (exact BIGINT
    // sums of squares), bits rebuilt with the same strict-> rule via
    // lead(), prints summed as bit<<i — integer end to end.
    "e5_audio_phash" ->
      """WITH s AS (
        |  SELECT vec_id AS id, g.t // 8 AS frame,
        |    ((((g.t * (vec_id % 7 + 1)) % 200) - 100) * 50)::BIGINT
        |      AS smp
        |  FROM embeddings, generate_series(0, 255) AS g(t)),
        |e AS (
        |  SELECT id, frame, sum(smp * smp)::BIGINT AS en
        |  FROM s GROUP BY id, frame),
        |b AS (
        |  SELECT id, frame,
        |    CASE WHEN lead(en) OVER (PARTITION BY id ORDER BY frame)
        |              > en THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        |  FROM e),
        |fp AS (
        |  SELECT id,
        |    sum(bit * (1::BIGINT << frame::INT))::BIGINT AS fp
        |  FROM b WHERE frame < 31 GROUP BY id)
        |SELECT fp, count(*)::BIGINT AS n_clips, min(id) AS min_id
        |FROM fp GROUP BY fp ORDER BY fp""".stripMargin,
    // Pair means of the synth formula; every pair sum is even (samples
    // are ×50), so `// 2` is exact — truncation vs floor can't differ.
    "e5_audio_resample" ->
      """WITH s AS (
        |  SELECT vec_id AS id, g.t,
        |    (((((2 * g.t) * (vec_id % 7 + 1)) % 200) - 100) * 50
        |     + ((((2 * g.t + 1) * (vec_id % 7 + 1)) % 200) - 100) * 50)
        |      // 2 AS smp
        |  FROM embeddings, generate_series(0, 127) AS g(t))
        |SELECT id, 128::INT AS n_out, 4000::INT AS out_rate,
        |  sum(smp)::BIGINT AS sum_out, min(smp)::INT AS min_out,
        |  max(smp)::INT AS max_out
        |FROM s GROUP BY id ORDER BY id""".stripMargin,
    "e5_wav_decode" ->
      """WITH s AS (
        |  SELECT vec_id AS id, g.t,
        |    ((((g.t * (vec_id % 7 + 1)) % 200) - 100) * 50)::INT AS smp
        |  FROM embeddings, generate_series(0, 255) AS g(t))
        |SELECT id, 256::INT AS n_samples, 8000::INT AS sample_rate,
        |  sum(smp)::BIGINT AS sum_s, min(smp)::INT AS min_s,
        |  max(smp)::INT AS max_s
        |FROM s GROUP BY id ORDER BY id""".stripMargin,
    // Physics self-check (✱): bounds asserted in-plan, constant-true
    // oracle — same convention as e5_spectral.
    "e5_wav_spectral" ->
      """SELECT true AS tones_located, true AS parseval_holds,
        |  true AS full_clips, true AS nonempty""".stripMargin,
    // VALUE-LEVEL restatement of the decoded pixels: the integer pixel
    // formula recomputed per (doc, x, y) — a filter-byte skip, channel
    // swap, or stride slip breaks the channel sums.
    // Chunk counts and removed-byte mass are closed-form (3 metadata
    // chunks of 12-byte framing + 11+digits/16/7 payloads = 70 +
    // digit count); pixel sums restate the synth formula — scrubbing
    // must not touch a pixel.
    "e5_meta_strip" ->
      """WITH px AS (
        |  SELECT doc_id, gx.x, gy.y,
        |    ((gx.x * 7 + gy.y * 3) + doc_id) % 256 AS r,
        |    ((gx.x * 11 + gy.y * 5) + doc_id * 2) % 256 AS g,
        |    (gx.x * gy.y + doc_id * 3) % 256 AS b
        |  FROM documents,
        |    generate_series(0, 15) AS gx(x),
        |    generate_series(0, 11) AS gy(y))
        |SELECT doc_id, 6::BIGINT AS n_before, 3::BIGINT AS n_after,
        |  (70 + length(doc_id::VARCHAR))::BIGINT AS bytes_removed,
        |  0::BIGINT AS residual_meta,
        |  sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
        |  sum(b)::BIGINT AS sum_b
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "e5_png_decode" ->
      """WITH px AS (
        |  SELECT doc_id, gx.x, gy.y,
        |    ((gx.x * 7 + gy.y * 3) + doc_id) % 256 AS r,
        |    ((gx.x * 11 + gy.y * 5) + doc_id * 2) % 256 AS g,
        |    (gx.x * gy.y + doc_id * 3) % 256 AS b
        |  FROM documents,
        |    generate_series(0, 15) AS gx(x),
        |    generate_series(0, 11) AS gy(y))
        |SELECT doc_id, 16::INT AS width, 12::INT AS height,
        |  sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
        |  sum(b)::BIGINT AS sum_b, 192::INT AS n_px
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Self-check (✱): DCT doubles are engine-internal; the LSH
    // radius-recall/budget bounds are asserted in-plan.
    "e5_dct_phash" ->
      """SELECT true AS radius_recall_exact, true AS radius_covers_plants,
        |  true AS pair_budget_ok, true AS nonempty""".stripMargin,
    // VALUE-LEVEL restatement of palette∘index over the pixel grid:
    // the GIF round-trip's channel sums recomputed from the integer
    // index and palette formulas.
    // Self-check ✱: dimension, interop-divergence, and source-
    // fidelity bounds asserted in-plan per image (the JDK decoder is
    // the cross-implementation reference on the identical bytes).
    // Self-check ✱: exact banded recall over the Hamming radius,
    // re-encode robustness, pattern discrimination, and the absolute
    // pair budget asserted in-plan.
    // Self-check ✱: both-ways interop (the JDK decoder accepts and
    // agrees on our encoder's bytes; our decoder matches it) plus
    // source fidelity asserted in-plan.
    "e5_jpeg_encode" ->
      """SELECT true AS dims_ok, true AS decoder_agreement_max_ok,
        |  true AS decoder_agreement_mean_ok, true AS source_fidelity_ok,
        |  true AS nonempty""".stripMargin,
    "e5_jpeg_phash" ->
      """SELECT true AS radius_recall_exact, true AS reencode_robust,
        |  true AS patterns_discriminated, true AS pair_budget_ok,
        |  true AS nonempty""".stripMargin,
    "e5_jpeg_decode" ->
      """SELECT true AS dims_ok, true AS interop_max_ok,
        |  true AS interop_mean_ok, true AS source_fidelity_ok,
        |  true AS nonempty""".stripMargin,
    "e5_gif_decode" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    ((gx.x * 7 + gy.y * 11) + doc_id) % 256 AS i
        |  FROM documents,
        |    generate_series(0, 15) AS gx(x),
        |    generate_series(0, 11) AS gy(y))
        |SELECT doc_id, 16::INT AS w, 12::INT AS h,
        |  sum(i)::BIGINT AS sum_r,
        |  sum((i * 5 + 7) % 256)::BIGINT AS sum_g,
        |  sum(255 - i)::BIGINT AS sum_b, 192::BIGINT AS n_px
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // VALUE-LEVEL restatement of the 2x2 box downsample: floor-mean of
    // each output pixel's 2x2 block recomputed from the synth formula.
    "e5_resize_box" ->
      """WITH px AS (
        |  SELECT doc_id, gx.x, gy.y,
        |    ((gx.x * 7 + gy.y * 3) + doc_id) % 256 AS r,
        |    ((gx.x * 11 + gy.y * 5) + doc_id * 2) % 256 AS g,
        |    (gx.x * gy.y + doc_id * 3) % 256 AS b
        |  FROM documents,
        |    generate_series(0, 15) AS gx(x),
        |    generate_series(0, 11) AS gy(y)),
        |ds AS (
        |  SELECT doc_id, x // 2 AS ox, y // 2 AS oy,
        |    sum(r) // 4 AS dr, sum(g) // 4 AS dg, sum(b) // 4 AS db
        |  FROM px GROUP BY doc_id, x // 2, y // 2)
        |SELECT doc_id, 8::INT AS out_w, 6::INT AS out_h,
        |  sum(dr)::BIGINT AS ds_sum_r, sum(dg)::BIGINT AS ds_sum_g,
        |  sum(db)::BIGINT AS ds_sum_b
        |FROM ds GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Every oracle below computes over the same ASCII-stripped
    // projection as the Spark side (see asciiOnly) — char ops equal
    // byte ops only once non-ASCII is gone.
    "e5_binary_meta" ->
      """WITH a AS (
        |  SELECT doc_id, regexp_replace(text, '[^\x00-\x7F]', '', 'g') AS t
        |  FROM documents)
        |SELECT doc_id, strlen(t) AS n_bytes, md5(t) AS digest,
        | upper(hex(substr(t, 1, 8))) AS head8
        |FROM a ORDER BY doc_id""".stripMargin,
    "e5_vector_join" ->
      """SELECT label, lang, count(*) AS n,
        | round(avg(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4)
        |   AS avg_norm_sq
        |FROM embeddings JOIN documents ON vec_id = doc_id
        |GROUP BY label, lang ORDER BY label, lang""".stripMargin,
    "e5_decode_batch" ->
      """SELECT doc_id,
        | strlen(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Channel means recomputed from the same construction: pixel byte
    // i is the document's i-th byte (ASCII corpus: ord = byte) or 0
    // padding; R/G/B interleave as 3j/3j+1/3j+2. sum/64 is exact in
    // doubles (64 = 2^6), so round(…, 4) is stable on both engines.
    // Features recomputed from the same 192-byte construction: feature
    // r = mean of bytes r·24 … r·24+23. The byte sums are small
    // integers (exact in doubles), so the cosine arithmetic is
    // bit-identical across engines.
    "e5_pipeline" ->
      """WITH a AS (
        |  SELECT doc_id, regexp_replace(text, '[^\x00-\x7F]', '', 'g') AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 8), r ->
        |      list_sum(list_transform(range(1, 25), i ->
        |        CASE WHEN r*24 + i <= strlen(t)
        |             THEN ord(substr(t, (r*24 + i)::INT, 1))::DOUBLE
        |             ELSE 0.0 END)) / 24.0) AS v
        |  FROM a),
        |n AS (
        |  SELECT doc_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM f),
        |p AS (
        |  SELECT q.doc_id AS q_id, c.doc_id AS c_id,
        |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
        |  FROM n q, n c WHERE q.doc_id < 5 AND c.doc_id <> q.doc_id),
        |rk AS (
        |  SELECT q_id, c_id, cos,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY cos DESC, c_id) AS rnk
        |  FROM p)
        |SELECT q_id, rnk, c_id, round(cos, 6) AS sim
        |FROM rk WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    "e5_ppm_decode" ->
      """WITH a AS (
        |  SELECT doc_id, regexp_replace(text, '[^\x00-\x7F]', '', 'g') AS t
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 192),
        |      i -> CASE WHEN i + 1 <= strlen(t)
        |             THEN ord(substr(t, (i + 1)::INT, 1)) ELSE 0 END) AS b
        |  FROM a)
        |SELECT doc_id, 8 AS width, 8 AS height,
        |  round(list_sum(list_transform(range(0, 64), j -> b[(3*j + 1)::INT]))
        |    / 64.0, 4) AS mean_r,
        |  round(list_sum(list_transform(range(0, 64), j -> b[(3*j + 2)::INT]))
        |    / 64.0, 4) AS mean_g,
        |  round(list_sum(list_transform(range(0, 64), j -> b[(3*j + 3)::INT]))
        |    / 64.0, 4) AS mean_b
        |FROM px ORDER BY doc_id""".stripMargin,
  )
}
