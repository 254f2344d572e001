package graft.multimodal

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite with LocalSparkSuite {

  test("payload byte ops: length, checksum, head bytes") {
    import spark.implicits._
    val df = Seq((1L, "hello world")).toDF("id", "data").select(
      Multimodal.byteLength(Multimodal.payload(col("data"))).as("len"),
      Multimodal.checksum(Multimodal.payload(col("data"))).as("md5"),
      Multimodal.headBase64(Multimodal.payload(col("data")), 5).as("head"))
    val r = df.head()
    assert(r.getLong(0) == 11L)
    assert(r.getString(1) == "5eb63bbbe01eeed093cb22bb8f5acdc3") // md5("hello world")
    assert(r.getString(2) == java.util.Base64.getEncoder.encodeToString("hello".getBytes))
  }

  test("frame sample takes every stride-th character; short/NULL payloads yield empty") {
    import spark.implicits._
    val df = Seq((1L, Some("abcdefghij")), (2L, Some("ab")), (3L, Option.empty[String]))
      .toDF("id", "data")
      .select(col("id"), Multimodal.frameSample(col("data"), 3).as("fs"))
    val m = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "cfi") // positions 3, 6, 9
    assert(m(2L) == "")    // shorter than one stride
    assert(m(3L) == "")    // NULL-is-empty convention (fuzz-found)
  }

  test("batched decode: NULL payload decodes as the zero-byte payload (fuzz-found)") {
    import spark.implicits._
    val src = Seq((1L, Some("x")), (2L, Option.empty[String])).toDF("doc_id", "text")
      .select(col("doc_id"), Multimodal.payload(col("text")).as("payload"))
    val byId = Multimodal.decodeFeaturesBatched(src, 2).collect().map(d => d.doc_id -> d).toMap
    assert(byId(2L).width == 0L && byId(2L).height == 0L)
    // features of the empty payload = md5("") chain, deterministic
    val emptyAgain = Multimodal.decodeFeaturesBatched(
      Seq((9L, "")).toDF("doc_id", "text")
        .select(col("doc_id"), Multimodal.payload(col("text")).as("payload")), 2)
      .collect().head
    assert(byId(2L).features == emptyAgain.features)
  }

  test("stub decode features: deterministic, fixed dims, engine-exact math") {
    import spark.implicits._
    val df = Seq(("payload-a", "payload-a", "payload-b")).toDF("a", "b", "c").select(
      Multimodal.fakeDecodeFeatures(Multimodal.payload(col("a")), 4).as("fa"),
      Multimodal.fakeDecodeFeatures(Multimodal.payload(col("b")), 4).as("fb"),
      Multimodal.fakeDecodeFeatures(Multimodal.payload(col("c")), 4).as("fc"))
    val r = df.head()
    val (fa, fb, fc) = (r.getSeq[Long](0), r.getSeq[Long](1), r.getSeq[Long](2))
    assert(fa.length == 4)
    assert(fa == fb)      // same payload -> same features
    assert(fa != fc)      // different payload -> different features
    assert(fa.forall(v => v >= 0 && v <= 0xffffffffL))
  }

  test("batched mapPartitions decode == column-expression decode (shared stub math)") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta"), (2L, ""), (3L, "a much longer payload with more bytes"))
      .toDF("doc_id", "text")
    val src = docs.select(col("doc_id"), Multimodal.payload(col("text")).as("payload"))
      .repartition(3) // exercise one decoder instance per partition
    val batched = Multimodal.decodeFeaturesBatched(src, 4).collect()
      .map(d => d.doc_id -> d.features).toMap
    val exprPath = docs.select(col("doc_id"),
        Multimodal.fakeDecodeFeatures(Multimodal.payload(col("text")), 4).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(batched.keySet == Set(1L, 2L, 3L))
    batched.foreach { case (id, f) => assert(f == exprPath(id), s"doc $id") }
    // metadata stub derives from the byte length
    val d3 = Multimodal.decodeFeaturesBatched(src, 4).collect().find(_.doc_id == 3L).get
    assert(d3.width == 37L % 1024 && d3.height == (37L * 7) % 768)
  }

  test("struct metadata round-trips field access") {
    import spark.implicits._
    val df = Seq(("en", "web")).toDF("lang", "source").select(
      Multimodal.meta("lang" -> col("lang"), "src" -> col("source")).as("m"))
      .select(col("m.lang"), col("m.src"))
    assert(df.head() == org.apache.spark.sql.Row("en", "web"))
  }

  // ---- real decoders (pure-JVM byte formats, no native libs) --------

  /** A 2x2 P6 PPM with a header comment: pixels (row-major)
    * (255,0,0) (0,255,0) / (0,0,255) (10,20,30). */
  private def ppmBytes: Array[Byte] = {
    val header = "P6\n# test image\n2 2\n255\n".getBytes("US-ASCII")
    val pixels = Array[Int](255,0,0, 0,255,0, 0,0,255, 10,20,30).map(_.toByte)
    header ++ pixels
  }

  /** Minimal RIFF/WAVE, PCM-16 mono 8 kHz, samples 100,-200,300,-400. */
  private def wavBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(36 + 8); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16)
    bb.putShort(1); bb.putShort(1); bb.putInt(8000); bb.putInt(16000); bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes); bb.putInt(8)
    Seq(100, -200, 300, -400).foreach(v => bb.putShort(v.toShort))
    bb.array()
  }

  test("dHash: bit order, invariance to sign-preserving noise, sensitivity to gradient flips") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 2x2 grid: bits are h(0,1), h(2,3), v(0,2), v(1,3)
    val lumas = Seq(
      (1L, Seq(10L, 20L, 5L, 5L)),  // only 10<20 -> bit 0 -> dhash 1
      (2L, Seq(11L, 21L, 6L, 5L)),  // +noise, same gradient signs -> 1
      (3L, Seq(20L, 10L, 5L, 5L)),  // flipped first gradient -> 0
      (4L, Seq(0L, 1L, 2L, 3L)))    // all ascending -> bits 0,1,2,3 -> 15
      .toDF("doc_id", "luma")
    val out = lumas.select(col("doc_id"),
      Decoders.dHash(col("luma"), 2, 2).as("d")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 0L, 4L -> 15L))
  }

  test("ppm decoder: exact header, channel means, sampled luma") {
    val d = Decoders.PpmDecoder.decode(7L, ppmBytes, dims = 4)
    assert((d.width, d.height) == ((2L, 2L)))
    // means: r=(255+0+0+10)/4=66, g=(0+255+0+20)/4=68, b=(0+0+255+30)/4=71
    assert((d.mean_r, d.mean_g, d.mean_b) == ((66L, 68L, 71L)))
    // luma at each pixel: .299R+.587G+.114B integer
    assert(d.luma == Seq(299L * 255 / 1000, 587L * 255 / 1000, 114L * 255 / 1000,
      (299L * 10 + 587L * 20 + 114L * 30) / 1000))
  }

  test("ppm decoder: rejects truncated and non-P6 payloads") {
    intercept[IllegalArgumentException](Decoders.PpmDecoder.decode(1L, "nope".getBytes, 2))
    intercept[IllegalArgumentException](
      Decoders.PpmDecoder.decode(1L, ppmBytes.dropRight(3), 2))
  }

  test("wav decoder: format fields and per-window mean amplitude") {
    val d = Decoders.WavDecoder.decode(9L, wavBytes, windows = 2)
    assert((d.sample_rate, d.channels, d.n_samples) == ((8000L, 1L, 4L)))
    // windows of 2 samples: mean(|100|,|-200|)=150, mean(|300|,|-400|)=350
    assert(d.window_energy == Seq(150L, 350L))
  }

  /** RIFF/WAVE PCM-16 mono 8 kHz from an arbitrary sample list. */
  private def wavOf(samples: Seq[Int]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + 2 * samples.size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(36 + 2 * samples.size); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16)
    bb.putShort(1); bb.putShort(1); bb.putInt(8000); bb.putInt(16000); bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes); bb.putInt(2 * samples.size)
    samples.foreach(v => bb.putShort(v.toShort))
    bb.array()
  }

  test("audio fingerprint: envelope-shape bits; low-order noise collides; contrast flip separates") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 8 samples = 4 windows of 2: quiet -> loud -> louder -> mid
    val base = Seq(10, -10, 1000, -1000, 5000, -5000, 100, -100)
    // every sample's low-order bits nudged: energies all move a little,
    // the delta SIGNS (the fingerprint) must not
    val noisy = base.map(v => if (v > 0) v + 3 else v - 2)
    // envelope reversed: louder -> loud -> quiet -> mid
    val flipped = Seq(5000, -5000, 1000, -1000, 10, -10, 100, -100)
    val df = Seq((1L, wavOf(base)), (2L, wavOf(noisy)), (3L, wavOf(flipped)))
      .toDF("doc_id", "payload")
    val out = Decoders.decodeAudioBatched(df, 4).toDF()
      .select(col("doc_id"),
        Decoders.audioFingerprint(col("window_energy"), 4).as("afp"),
        Decoders.silentWindows(col("window_energy"), 4, 50L).as("ns"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // base energies (10, 1000, 5000, 100): rises at 0->1 and 1->2 only
    assert(out(1L)._1 === 3L)
    assert(out(2L)._1 === out(1L)._1,
      "low-order sample noise must not move the envelope's delta signs")
    // flipped energies (5000, 1000, 10, 100): rises only at 2->3
    assert(out(3L)._1 === 4L)
    assert(out(3L)._1 !== out(1L)._1)
    // silence: only the 10-amplitude window sits under the threshold
    assert(out(1L)._2 === 1L && out(3L)._2 === 1L)
  }

  test("batched decode runs the real parsers through the mapPartitions shape") {
    import spark.implicits._
    val img = Seq((1L, ppmBytes), (2L, ppmBytes)).toDF("doc_id", "payload")
    val di = Decoders.decodeImagesBatched(img, dims = 2).collect().sortBy(_.doc_id)
    assert(di.map(_.doc_id).toSeq == Seq(1L, 2L))
    assert(di.forall(d => d.width == 2 && d.mean_g == 68L))
    val au = Seq((5L, wavBytes)).toDF("doc_id", "payload")
    val da = Decoders.decodeAudioBatched(au, windows = 4).collect()
    assert(da.head.window_energy == Seq(100L, 200L, 300L, 400L))
  }

  /** Deterministic RGB test image: pixel (x, y) of image `id` is a
    * pure function of (id, x, y). Returns (pixels row-major, png
    * bytes, jpeg bytes). */
  private def synthImage(id: Long, w: Int, h: Int): (Array[Int], Array[Byte], Array[Byte]) = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val r = ((id * 37 + x * 11 + y * 3) % 256).toInt
      val g = ((id * 53 + x * 7 + y * 13) % 256).toInt
      val b = ((id * 71 + x * 5 + y * 17) % 256).toInt
      val p = (r << 16) | (g << 8) | b
      px(y * w + x) = p
      img.setRGB(x, y, p)
    }
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos))
      bos.toByteArray
    }
    (px, enc("png"), enc("jpg"))
  }

  test("imageio decoder: PNG decode is exact against source-pixel ground truth") {
    val (px, png, _) = synthImage(11L, 7, 5)
    val d = Decoders.ImageIoDecoder.decode(11L, png, dims = 4)
    assert((d.width, d.height) == ((7L, 5L)))
    val n = px.length.toLong
    def mean(shift: Int) = px.map(p => ((p >> shift) & 0xff).toLong).sum / n
    assert((d.mean_r, d.mean_g, d.mean_b) == ((mean(16), mean(8), mean(0))))
    val luma = (0 until 4).map { k =>
      val p = px((k * n / 4).toInt)
      (299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L
    }
    assert(d.luma == luma)
  }

  test("imageio decoder: JPEG decodes through the same path (codec round-trip)") {
    val (_, _, jpg) = synthImage(3L, 16, 16)
    val d = Decoders.ImageIoDecoder.decode(3L, jpg, dims = 4)
    assert((d.width, d.height) == ((16L, 16L)))
    // lossy codec: gate against the codec's own round-trip, which is
    // deterministic for a given JRE decoder
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    val n = 16L * 16L
    var (sr, sg, sb) = (0L, 0L, 0L)
    for (y <- 0 until 16; x <- 0 until 16) {
      val p = img.getRGB(x, y)
      sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
    }
    assert((d.mean_r, d.mean_g, d.mean_b) == ((sr / n, sg / n, sb / n)))
  }

  test("imageio decoder: hand-built GIF LZW stream decodes to palette entries in order") {
    // the q_multimodal_gif payload shape: constant LZW bytes encoding
    // pixel indices [0,1,2,3], variability only in the 12 raw palette
    // bytes — assert the JDK's GIF decoder agrees with the hand-packed
    // bitstream (CLEAR 0 1 2 3 EOI at widths 3,3,3,3,4,4 -> 44 34 05)
    val palette = (0 until 12).map(i => (i * 19 + 7).toByte).toArray
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](2, 0, 2, 0, 0x91.toByte, 0, 0) ++ palette ++
      Array[Byte](0x2C, 0, 0, 0, 0, 2, 0, 2, 0, 0, 2, 3, 0x44, 0x34, 0x05, 0, 0x3B)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gif))
    assert(img != null && img.getWidth == 2 && img.getHeight == 2)
    for (k <- 0 until 4) {
      val p = img.getRGB(k % 2, k / 2)
      val (r, g, b) = (palette(3 * k) & 0xff, palette(3 * k + 1) & 0xff,
        palette(3 * k + 2) & 0xff)
      assert(((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff) == ((r, g, b)), s"pixel $k")
    }
    // and through the decoder's feature shape
    val d = Decoders.ImageIoDecoder.decode(1L, gif, dims = 4)
    def ch(off: Int) = (0 until 4).map(k => (palette(3 * k + off) & 0xff).toLong).sum / 4
    assert((d.mean_r, d.mean_g, d.mean_b) == ((ch(0), ch(1), ch(2))))
  }

  test("imageio decoder: mixed PNG/JPEG payloads through the mapPartitions batch shape") {
    import spark.implicits._
    val rows = (0L until 6L).map { id =>
      val (_, png, jpg) = synthImage(id, 8, 6)
      (id, if (id % 2 == 0) png else jpg)
    }
    val df = rows.toDF("doc_id", "payload").repartition(3)
    val out = Decoders.decodeImageIoBatched(df, dims = 3).collect().sortBy(_.doc_id)
    assert(out.map(_.doc_id).toSeq == (0L until 6L))
    assert(out.forall(d => d.width == 8 && d.height == 6 && d.luma.length == 3))
    // PNG rows (lossless) must match a driver-side decode exactly
    val direct = Decoders.ImageIoDecoder.decode(0L, rows(0)._2, dims = 3)
    assert(out(0) == direct)
  }

  test("imageio decoder: rejects non-image payloads loudly") {
    intercept[IllegalArgumentException](
      Decoders.ImageIoDecoder.decode(1L, "not an image".getBytes, 2))
  }

  // --- video container metadata probe --------------------------------

  private def be(v: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(v).array()
  private def be64(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(v).array()
  private def le(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4)
    .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
  private def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def box(typ: String, content: Array[Byte]): Array[Byte] =
    be(8 + content.length) ++ cc(typ) ++ content

  test("mp4 probe: v1 mvhd 64-bit duration, unknown boxes skipped, audio+video traks") {
    def trak(handler: String, fourcc: String, w: Int, h: Int): Array[Byte] = {
      val tkhd = box("tkhd", be(0) ++ Array.fill[Byte](72)(0) ++ be(w << 16) ++ be(h << 16))
      val stsd = box("stsd", be(0) ++ be(1) ++ box(fourcc, Array.fill[Byte](8)(0)))
      val hdlr = box("hdlr", be(0) ++ be(0) ++ cc(handler) ++ Array.fill[Byte](12)(0))
      val mdia = box("mdia", hdlr ++ box("minf", box("stbl", stsd)))
      box("trak", tkhd ++ mdia)
    }
    // v1 mvhd: verflags(1<<24) c(8) m(8) timescale(4) duration(8)
    val mvhd = box("mvhd",
      be(1 << 24) ++ be64(0) ++ be64(0) ++ be(600) ++ be64(90000L) ++ Array.fill[Byte](76)(0))
    val junk = box("free", Array.fill[Byte](13)(7)) // must be skipped by size
    val moov = box("moov",
      junk ++ mvhd ++ trak("soun", "mp4a", 0, 0) ++ trak("vide", "hvc1", 1920, 1080))
    val bytes = box("ftyp", cc("isom") ++ be(0)) ++ junk ++ moov
    val m = Decoders.VideoProbe.decode(7L, bytes)
    assert(m == Decoders.VideoMeta(7L, "mp4", 90000L * 1000 / 600, 2, "hvc1", 1920, 1080))
  }

  test("avi probe: odd-sized chunk alignment, vids codec, avih timing") {
    def chunk(typ: String, content: Array[Byte]): Array[Byte] =
      cc(typ) ++ le(content.length) ++ content ++
        (if (content.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    // an odd-sized junk chunk BEFORE hdrl exercises word alignment
    val junk = chunk("JUNK", Array.fill[Byte](7)(9))
    val avih = chunk("avih", le(33367) ++ le(0) ++ le(0) ++ le(0) ++ le(800) ++
      le(0) ++ le(1) ++ le(0) ++ le(640) ++ le(480) ++ Array.fill[Byte](16)(0))
    val strh = chunk("strh", cc("vids") ++ cc("XVID") ++ Array.fill[Byte](48)(0))
    val strl = chunk("LIST", cc("strl") ++ strh)
    val hdrl = chunk("LIST", cc("hdrl") ++ avih ++ strl)
    val body = junk ++ hdrl
    val bytes = cc("RIFF") ++ le(4 + body.length) ++ cc("AVI ") ++ body
    val m = Decoders.VideoProbe.decode(8L, bytes)
    // 33367 µs/frame * 800 frames / 1000 = 26693 ms (floor)
    assert(m == Decoders.VideoMeta(8L, "avi", 33367L * 800 / 1000, 1, "XVID", 640, 480))
  }

  test("video probe rejects non-container payloads loudly") {
    intercept[IllegalArgumentException](
      Decoders.VideoProbe.decode(1L, "not a video".getBytes))
  }

  /** Minimal conformant DIB AVI: one vids strl with a BI_RGB strf,
    * then LIST movi holding the given frame chunks. */
  private def dibAvi(w: Int, h: Int, bpp: Int, compression: Int,
      frames: Array[Byte]*): Array[Byte] = {
    def chunk(typ: String, content: Array[Byte]): Array[Byte] =
      cc(typ) ++ le(content.length) ++ content ++
        (if (content.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    val avih = chunk("avih", le(40000) ++ Array.fill[Byte](12)(0) ++
      le(frames.size) ++ le(0) ++ le(1) ++ le(0) ++ le(w) ++ le(h) ++
      Array.fill[Byte](16)(0))
    val strh = chunk("strh", cc("vids") ++ cc("DIB ") ++ Array.fill[Byte](48)(0))
    val strf = chunk("strf", le(40) ++ le(w) ++ le(h) ++
      le(1 | (bpp << 16)) ++ le(compression) ++ Array.fill[Byte](20)(0))
    val hdrl = chunk("LIST", cc("hdrl") ++ avih ++ chunk("LIST", cc("strl") ++ strh ++ strf))
    val movi = chunk("LIST", cc("movi") ++
      frames.flatMap(f => chunk("00db", f)).toArray)
    val body = hdrl ++ movi
    cc("RIFF") ++ le(4 + body.length) ++ cc("AVI ") ++ body
  }

  test("avi frame decode: bottom-up BGR rows, exact means/lumas, per-frame indexing") {
    // 2x2, rows padded to 8 bytes; STORED first row is the BOTTOM row.
    // bottom row: blue(255,0,0 BGR), green(0,255,0); top: red, white
    val f0 = Array[Byte](-1, 0, 0, 0, -1, 0, 0, 0, // bottom: blue, green + pad
      0, 0, -1, -1, -1, -1, 0, 0)                  // top: red, white + pad
    val f1 = Array.fill[Byte](16)(0)               // all black
    val out = Decoders.AviFrameDecoder.decode(5L, dibAvi(2, 2, 24, 0, f0, f1))
    assert(out.size == 2)
    // image row-major: p0=red(255,0,0) p1=white p2=blue(0,0,255) p3=green
    assert(out(0) == Decoders.VideoFrame(5L, 0L, 2L, 2L,
      (255L + 255 + 0 + 0) / 4, (0L + 255 + 0 + 255) / 4, (0L + 255 + 255 + 0) / 4,
      Seq(299L * 255 / 1000, (299L * 255 + 587 * 255 + 114 * 255) / 1000,
        114L * 255 / 1000, 587L * 255 / 1000)))
    assert(out(1) == Decoders.VideoFrame(5L, 1L, 2L, 2L, 0L, 0L, 0L,
      Seq(0L, 0L, 0L, 0L)))
  }

  test("avi frame decode: odd width pads rows to 4 bytes") {
    // 3x1: 9 pixel bytes + 3 pad = 12-byte row; pixels L->R: r=1,2,3
    val f = Array[Byte](0, 0, 1, 0, 0, 2, 0, 0, 3, 0, 0, 0)
    val out = Decoders.AviFrameDecoder.decode(6L, dibAvi(3, 1, 24, 0, f))
    assert(out == Seq(Decoders.VideoFrame(6L, 0L, 3L, 1L, 2L, 0L, 0L,
      Seq(299L * 1 / 1000, 299L * 2 / 1000, 299L * 3 / 1000))))
  }

  test("avi frame decode rejects compressed streams and bad frame sizes loudly") {
    val f = Array.fill[Byte](16)(0)
    // inter-frame codec (H264 fourcc): a declared error, never a
    // silent stub — MJPG is now a supported intra-frame codec
    intercept[IllegalArgumentException](
      Decoders.AviFrameDecoder.decode(7L, dibAvi(2, 2, 24, 0x34363248, f)))
    // frame chunk size disagreeing with the strf geometry
    intercept[IllegalArgumentException](
      Decoders.AviFrameDecoder.decode(8L, dibAvi(2, 2, 24, 0, f.take(12))))
    // not an AVI at all
    intercept[IllegalArgumentException](
      Decoders.AviFrameDecoder.decode(9L, "plain bytes".getBytes))
  }

  private val Mjpg = 0x47504A4D // 'MJPG' as LE biCompression

  test("mjpeg frame decode: every DC template decodes to its oracle constant") {
    // THE gate that licenses the q_multimodal_mjpeg oracle: for each
    // nibble n the hand-packed constant-gray JPEG must decode —
    // through the real javax.imageio codec — to exactly the constant
    // the closed-form SQL lookup table claims. A JRE whose gray→sRGB
    // conversion drifts fails HERE, not silently at the driver gate.
    val t = Decoders.MjpegTemplate
    (0 until 16).foreach { n =>
      val out = Decoders.AviFrameDecoder.decode(40L + n,
        dibAvi(8, 8, 24, Mjpg, t.payload(n)))
      assert(out.size == 1)
      val f = out.head
      val c = t.ExpectedGray(n)
      assert((f.width, f.height) == ((8L, 8L)), s"n=$n dims")
      assert((f.mean_r, f.mean_g, f.mean_b) == ((c, c, c)),
        s"n=$n means ${(f.mean_r, f.mean_g, f.mean_b)} != $c")
      // constant pixels: luma (299c+587c+114c)//1000 = c, all 64
      assert(f.luma == Seq.fill(64)(c), s"n=$n luma")
    }
  }

  test("mjpeg frame decode: multi-frame indexing and the movi walk") {
    val t = Decoders.MjpegTemplate
    val out = Decoders.AviFrameDecoder.decode(60L,
      dibAvi(8, 8, 24, Mjpg, t.payload(0), t.payload(15)))
    assert(out.map(f => (f.frame_idx, f.mean_r)) ==
      Seq((0L, t.ExpectedGray(0)), (1L, t.ExpectedGray(15))))
  }

  test("mjpeg frame decode: dimension mismatch and garbage payloads are loud") {
    val t = Decoders.MjpegTemplate
    // strf declares 4x4 but the JPEG is 8x8
    intercept[IllegalArgumentException](
      Decoders.AviFrameDecoder.decode(61L, dibAvi(4, 4, 24, Mjpg, t.payload(0))))
    // an MJPG stream whose chunk is not a decodable JPEG
    intercept[IllegalArgumentException](
      Decoders.AviFrameDecoder.decode(62L,
        dibAvi(8, 8, 24, Mjpg, Array.fill[Byte](16)(0))))
  }
}
