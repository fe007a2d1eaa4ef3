package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The REAL javax.imageio codec tier: planted-PNG encode→decode must be
  * pixel-faithful (PNG is lossless), and every derived quantity —
  * dimensions, channel sums, strip features, resize output — must match
  * values computed independently from the planting formula. */
class MultimodalCodecSpec extends AnyFunSuite with SparkSpec {

  test("PNG encode→decode is pixel-faithful to the planting formula") {
    for (id <- Seq(0L, 1L, 17L, 63L)) {
      val img = Multimodal.readImage(Multimodal.plantedPng(id))
      val (w, h) = Multimodal.plantedDims(id)
      assert((img.getWidth, img.getHeight) == (w, h))
      for (x <- Seq(0, w / 2, w - 1); y <- Seq(0, h / 2, h - 1))
        assert((img.getRGB(x, y) & 0xffffff) == Multimodal.plantedRgb(id, x, y),
          s"pixel mismatch at id=$id ($x,$y)")
    }
  }

  test("decodeImageMeta matches independently computed dims and sums") {
    val got = Multimodal.decodeImageMeta(Multimodal.plantedImages(spark, 12))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3))))
      .toMap
    for (id <- 0L until 12L) {
      val (w, h) = Multimodal.plantedDims(id)
      var sum = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = Multimodal.plantedRgb(id, x, y)
        sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
      }
      assert(got(id) == ((w, h, sum)), s"id=$id")
    }
  }

  test("imageIoCodec: strip luminance features in [0,1], exact on uniform image") {
    // uniform mid-gray 10x10 image: every strip's mean luminance is 128/255
    val img = new java.awt.image.BufferedImage(
      10, 10, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 10; x <- 0 until 10)
      img.setRGB(x, y, (128 << 16) | (128 << 8) | 128)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val feats = Multimodal.imageIoCodec(5).decode(bos.toByteArray)
    assert(feats.length == 5)
    feats.foreach(f => assert(math.abs(f - 128.0 / 255.0) < 1e-12))
    // planted images: deterministic, bounded
    val f1 = Multimodal.imageIoCodec(8).decode(Multimodal.plantedPng(7L))
    val f2 = Multimodal.imageIoCodec(8).decode(Multimodal.plantedPng(7L))
    assert(f1.toSeq == f2.toSeq)
    f1.foreach(f => assert(f >= 0.0 && f <= 1.0))
  }

  test("decodeBatches drives the REAL codec through the AssetCodec seam") {
    val dim = 4
    val out = Multimodal.decodeBatches(
        Multimodal.plantedImages(spark, 6), dim,
        () => Multimodal.imageIoCodec(dim))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out.size == 6)
    for (id <- 0L until 6L)
      assert(out(id) == Multimodal.imageIoCodec(dim)
        .decode(Multimodal.plantedPng(id)).toSeq)
  }

  test("resizeImages re-encodes real PNGs at the target dims") {
    val resized = Multimodal.resizeImages(Multimodal.plantedImages(spark, 5), 16, 12)
    val rows = resized.select(col("asset_id"), col("payload"),
      col("meta.width"), col("meta.height"), col("meta.mime")).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert((r.getInt(2), r.getInt(3)) == ((16, 12)))
      assert(r.getString(4) == "image/png")
      val img = Multimodal.readImage(r.getAs[Array[Byte]](1))
      assert((img.getWidth, img.getHeight) == ((16, 12)))
    }
  }

  test("transcodeImages to JPEG: real SOI/EOI framing, exact dims, bounded lossy error") {
    val png = Multimodal.plantedImages(spark, 12)
    val jpg = Multimodal.transcodeImages(png, "jpg", 0.9f)
    val rows = jpg.select(col("asset_id"), col("payload"),
      col("meta.mime"), col("meta.width"), col("meta.height")).collect()
    assert(rows.length == 12)
    rows.foreach { r =>
      val id = r.getLong(0)
      val bytes = r.getAs[Array[Byte]](1)
      assert(r.getString(2) == "image/jpeg")
      // JPEG framing: starts SOI (FFD8), ends EOI (FFD9)
      assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8, s"id=$id SOI")
      assert((bytes(bytes.length - 2) & 0xff) == 0xff &&
        (bytes(bytes.length - 1) & 0xff) == 0xd9, s"id=$id EOI")
      val (w, h) = Multimodal.plantedDims(id)
      assert((r.getInt(3), r.getInt(4)) == ((w, h)), s"id=$id meta dims")
      val img = Multimodal.readImage(bytes)
      assert((img.getWidth, img.getHeight) == ((w, h)), s"id=$id decoded dims")
    }
    // quality 0.9 on the planted gradients: measured mean_abs_err over
    // the full 64-image corpus is [4.3, 11.1] (the mod-256 wraparound is
    // deliberately JPEG-hostile); a garbage encode (dims swapped,
    // channels dropped, blank) reads 40+ — 16 is max + headroom
    val errs = Multimodal.imagePairError(png, jpg)
      .select(col("asset_id"), col("mean_abs_err")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(errs.size == 12)
    errs.foreach { case (id, e) =>
      assert(e >= 0 && e <= 16.0, s"id=$id mean_abs_err=$e") }
  }

  test("imagePairError: zero against itself, null on dim mismatch, exact on a hand-built pair") {
    val png = Multimodal.plantedImages(spark, 4)
    // identity: lossless vs itself is exactly 0
    Multimodal.imagePairError(png, png).collect().foreach { r =>
      assert(r.getDouble(5) == 0.0, s"self-error must be 0: $r") }
    // dim mismatch (resize) → null error, dims of both sides reported
    val resized = Multimodal.resizeImages(png, 16, 12)
    Multimodal.imagePairError(png, resized).collect().foreach { r =>
      assert(r.isNullAt(5), "dim-mismatched pair must report null error")
      assert((r.getInt(3), r.getInt(4)) == ((16, 12)))
    }
    // hand-built: shift every red channel by +3 → mean_abs_err = 1.0
    def solid(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    import spark.implicits._
    def frame(rgb: Int) = Seq((1L, solid(rgb))).toDF("asset_id", "payload")
    val e = Multimodal.imagePairError(frame(0x405060), frame(0x435060))
      .collect().head.getDouble(5)
    assert(e == 1.0, s"(+3,0,0)/3 channels = 1.0, got $e")
  }

  test("imagePairError: null payload on either side degrades to a null " +
    "error row (transcodeImages propagates null inputs — composing the " +
    "two QA steps must not NPE)") {
    import spark.implicits._
    def solid(): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val good = Seq((1L, solid())).toDF("asset_id", "payload")
    val nul = Seq((1L, null.asInstanceOf[Array[Byte]]))
      .toDF("asset_id", "payload")
    for ((a, b) <- Seq((good, nul), (nul, good), (nul, nul))) {
      val r = Multimodal.imagePairError(a, b).collect().head
      assert(r.isNullAt(5), "null payload must give null mean_abs_err")
    }
    // the null SIDE reports null dims; the present side keeps its dims
    val r = Multimodal.imagePairError(good, nul).collect().head
    assert(r.getInt(1) == 8 && r.getInt(2) == 8)
    assert(r.isNullAt(3) && r.isNullAt(4))
  }

  test("a null payload passes every byte-level stage: id kept, null " +
    "decode fields, output schemas pinned") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import spark.implicits._
    val nul = Seq((7L, null.asInstanceOf[Array[Byte]], "image/bmp"))
      .toDF("asset_id", "payload", "mime")
      .select(col("asset_id"), col("payload"),
        struct(col("mime").alias("mime")).alias("meta"))
    def schemaOf(fields: (String, DataType)*): StructType =
      StructType(StructField("asset_id", LongType) +:
        fields.map { case (n, t) => StructField(n, t) })
    val decoded = Seq(
      "decodeBatches" -> (Multimodal.decodeBatches(nul, 4),
        schemaOf("features" -> ArrayType(DoubleType))),
      "decodeImageMeta" -> (Multimodal.decodeImageMeta(nul),
        schemaOf("width" -> IntegerType, "height" -> IntegerType,
          "pixel_sum" -> LongType)),
      "imageDHash" -> (Multimodal.imageDHash(nul), schemaOf("dhash" -> LongType)),
      "decodeAudioMeta" -> (Multimodal.decodeAudioMeta(nul),
        schemaOf("n_samples" -> IntegerType, "sample_sum" -> LongType,
          "energy" -> LongType)),
      "pdfTextMeta" -> (Multimodal.pdfTextMeta(nul),
        schemaOf("n_pages" -> IntegerType, "pdf_magic_ok" -> BooleanType,
          "text" -> StringType)),
      "imagePairError" -> (Multimodal.imagePairError(nul, nul),
        schemaOf("width_a" -> IntegerType, "height_a" -> IntegerType,
          "width_b" -> IntegerType, "height_b" -> IntegerType,
          "mean_abs_err" -> DoubleType)))
    for ((stage, (df, schema)) <- decoded) {
      assert(df.schema == schema, stage)
      val rows = df.collect()
      assert(rows.length == 1 && rows.head.getLong(0) == 7L, stage)
      assert((1 until schema.length).forall(rows.head.isNullAt), stage)
    }
    // stages returning assets keep assetSchema (non-nullable asset_id)
    // and a null payload; resize keeps the input mime, transcode reports
    // its target mime
    for ((stage, df, mime) <- Seq(
        ("resizeImages", Multimodal.resizeImages(nul, 16, 16), "image/bmp"),
        ("transcodeImages", Multimodal.transcodeImages(nul, "jpg"), "image/jpeg"))) {
      assert(df.schema == Multimodal.assetSchema, stage)
      assert(!df.schema("asset_id").nullable, stage)
      assert(df.collect().toSeq == Seq(Row(7L, null, Row(mime, null, null, null))),
        stage)
    }
  }

  // ---- PDF subset codec (round 14) --------------------------------------

  test("planted PDF parses back: page count, magic, text exactly per the " +
    "planting formula — both raw and FlateDecode content streams") {
    for (id <- Seq(0L, 1L, 2L, 7L, 46L, 47L)) { // even = raw, odd = flate
      val bytes = Multimodal.plantedPdf(id)
      assert(new String(bytes.take(5), "ISO-8859-1") == "%PDF-")
      val (np, magic, text) = Multimodal.parsePdf(bytes)
      val expNp = Multimodal.plantedPdfPages(id)
      val expText = (0 until expNp)
        .map(p => Multimodal.plantedPdfPageText(id, p)).mkString("\n")
      assert(magic, s"id=$id magic")
      assert(np == expNp, s"id=$id pages: $np != $expNp")
      assert(text == expText, s"id=$id text:\n$text\n!=\n$expText")
    }
  }

  test("pdf parser handles escapes, nested parens, TJ arrays, and an " +
    "indirect /Length (hand-built content)") {
    // escapes + nesting: (a\(b\)c (nested) \\ \101) = "a(b)c (nested) \ A"
    val c1 = "BT (a\\(b\\)c (nested) \\\\ \\101) Tj ET"
    assert(Multimodal.pdfContentText(c1) == "a(b)c (nested) \\ A")
    // TJ array pieces concatenate in order (kerning numbers ignored)
    val c2 = "BT [(Hel) -20 (lo) 4 ( world)] TJ ET"
    assert(Multimodal.pdfContentText(c2) == "Hello world")
    // two BT blocks in one stream concatenate
    val c3 = "BT (x) Tj ET q Q BT (y) Tj ET"
    assert(Multimodal.pdfContentText(c3) == "xy")
    // indirect /Length (unsupported form) falls back to endstream scan
    val pdf = ("%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\n" +
      "2 0 obj\n<< /Length 3 0 R >>\nstream\nBT (ok) Tj ET\nendstream\nendobj\n" +
      "%%EOF\n").getBytes("ISO-8859-1")
    val (np, magic, text) = Multimodal.parsePdf(pdf)
    assert(np == 1 && magic && text == "ok")
  }

  test("pdf parser: operator tokens never match inside literals (the " +
    "'BUDGET REPORT' class) and BT/ET require delimiter boundaries") {
    // 'ET' inside the drawn text must not terminate the block
    assert(Multimodal.pdfContentText("BT (BUDGET REPORT) Tj ET") ==
      "BUDGET REPORT")
    // 'BT' inside a literal OUTSIDE a text block must not open one
    assert(Multimodal.pdfContentText("(see BT section) BT (x) Tj ET") == "x")
    // substrings of longer tokens are not operators
    assert(Multimodal.pdfContentText("BT /SETF 1 Tf (a) Tj ET") == "a")
  }

  test("pdf parser degrades on malformed blobs instead of crashing the sweep") {
    import spark.implicits._
    // truncated right after 'stream\r' — the copyOfRange(from>to) class
    val truncated = "%PDF-1.4\n1 0 obj\n<< /Length 5 >>\nstream\r"
      .getBytes("ISO-8859-1")
    val (np, magic, text) = Multimodal.parsePdf(truncated)
    assert(np == 0 && !magic && text == "")
    // absurd declared /Length falls back to the endstream scan
    val bogus = ("%PDF-1.4\n1 0 obj\n<< /Length 99999999999999999999 >>\n" +
      "stream\nBT (z) Tj ET\nendstream\nendobj\n%%EOF\n").getBytes("ISO-8859-1")
    assert(Multimodal.parsePdf(bogus)._3 == "z")
    // arbitrary garbage through the full frame: per-row degradation
    val junk = Seq((7L, Array.fill[Byte](64)(0x2a)))
      .toDF("asset_id", "payload")
    val r = Multimodal.pdfTextMeta(junk).collect().head
    assert(r.getLong(0) == 7L && !r.getBoolean(2))
  }

  test("FlateDecode decompression bomb is capped, and a bombed stream " +
    "degrades per-row instead of OOMing the sweep (ADVICE r14)") {
    import spark.implicits._
    // ~96 MB of zeros deflates to ~90 KB — a legal stream whose inflated
    // size exceeds the 64 MB cap; inflateBytes must throw (not allocate)
    val bomb = {
      val d = new java.util.zip.Deflater()
      d.setInput(new Array[Byte](96 << 20)); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    }
    val e = intercept[IllegalArgumentException](Multimodal.inflateBytes(bomb))
    assert(e.getMessage.contains("cap"))
    // a crafted PDF carrying the bomb as a FlateDecode content stream:
    // parsePdf treats it as an undecodable stream (no text), keeps going
    val head = s"%PDF-1.4\n1 0 obj\n<< /Length ${bomb.length} /Filter /FlateDecode >>\nstream\n"
    val tail = "\nendstream\nendobj\n2 0 obj\n<< /Length 14 >>\nstream\n" +
      "BT (ok) Tj ET\nendstream\nendobj\n%%EOF\n"
    val pdf = head.getBytes("ISO-8859-1") ++ bomb ++ tail.getBytes("ISO-8859-1")
    val (_, magic, text) = Multimodal.parsePdf(pdf)
    assert(magic && text == "ok", s"got text='$text'")
    // and through the full frame: the row survives with the plain stream's
    // text, no executor failure
    val df = Seq((5L, pdf)).toDF("asset_id", "payload")
    val r = Multimodal.pdfTextMeta(df).collect().head
    assert(r.getLong(0) == 5L && r.getString(3) == "ok")
    // a stream UNDER the cap still inflates fine end-to-end (planted odd
    // ids are FlateDecode-compressed — re-assert one decodes)
    val (np1, magic1, text1) = Multimodal.parsePdf(Multimodal.plantedPdf(1L))
    assert(magic1 && np1 == Multimodal.plantedPdfPages(1L) &&
      text1 == (0 until np1).map(p => Multimodal.plantedPdfPageText(1L, p))
        .mkString("\n"))
  }

  test("pdfTextMeta over the planted corpus: schema, nulls, and exact " +
    "rows for spot ids") {
    import spark.implicits._
    val assets = Multimodal.plantedPdfs(spark, 8)
    val got = Multimodal.pdfTextMeta(assets).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2), r.getString(3))))
      .toMap
    assert(got.size == 8)
    for (id <- 0L until 8L) {
      val np = Multimodal.plantedPdfPages(id)
      val txt = (0 until np)
        .map(p => Multimodal.plantedPdfPageText(id, p)).mkString("\n")
      assert(got(id) == ((np, true, txt)), s"id=$id")
    }
    // null payload degrades to null fields, not an executor NPE
    val nul = Seq((99L, null.asInstanceOf[Array[Byte]]))
      .toDF("asset_id", "payload")
    val r = Multimodal.pdfTextMeta(nul).collect().head
    assert(r.getLong(0) == 99L && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
  }

  test("WAV encode→decode is sample-faithful to the planting formula") {
    for (id <- Seq(0L, 5L, 31L, 47L)) {
      val samples = Multimodal.readWavSamples(Multimodal.plantedWav(id))
      assert(samples.length == Multimodal.plantedWavLen(id))
      for (t <- Seq(0, samples.length / 2, samples.length - 1))
        assert(samples(t) == Multimodal.plantedSample(id, t), s"id=$id t=$t")
    }
  }

  test("decodeAudioMeta matches independently computed sums and energy") {
    val got = Multimodal.decodeAudioMeta(Multimodal.plantedAudio(spark, 10))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    for (id <- 0L until 10L) {
      val n = Multimodal.plantedWavLen(id)
      var sum = 0L; var energy = 0L
      for (t <- 0 until n) {
        val v = Multimodal.plantedSample(id, t)
        sum += v; energy += v.toLong * v
      }
      assert(got(id) == ((n, sum, energy)), s"id=$id")
    }
  }

  test("dHash from the decoded PNG equals an independent formula derivation") {
    // recompute the hash straight from the pixel formulas — the same
    // derivation the DuckDB oracle does, here in plain Scala
    def formulaDhash(base: Long, perturbed: Boolean): Long = {
      val (w, h) = Multimodal.plantedDims(base)
      val sums = Array.ofDim[Long](9, 8); val cnts = Array.ofDim[Long](9, 8)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = if (perturbed) Multimodal.perturbedRgb(base, x, y)
                  else Multimodal.plantedRgb(base, x, y)
        val gray = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        sums(x * 9 / w)(y * 8 / h) += gray
        cnts(x * 9 / w)(y * 8 / h) += 1
      }
      (for (by <- 0 until 8; bx <- 0 until 8
            if sums(bx + 1)(by) * cnts(bx)(by) > sums(bx)(by) * cnts(bx + 1)(by))
        yield 1L << (by * 8 + bx)).foldLeft(0L)(_ | _)
    }
    val got = Multimodal.imageDHash(
      Multimodal.plantedImagesWithClones(spark, 12, 5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (id <- 0L until 12L)
      assert(got(id) == formulaDhash(id, perturbed = false), s"orig $id")
    for (id <- 0L until 5L)
      assert(got(100000L + id) == formulaDhash(id, perturbed = true), s"clone $id")
  }

  test("image near-dup: clones pair with their base; blocked ≡ exhaustive") {
    val assets = Multimodal.plantedImagesWithClones(spark, 40, 10)
    val blocked = Multimodal.imageNearDupPairs(assets, maxDist = 2)
    val got = blocked.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every clone is within distance 2 of its base (probe showed 0-1)
    for (id <- 0L until 10L)
      assert(got.contains((id, 100000L + id)), s"clone pair $id missing")
    // blocked ≡ the exhaustive cross-join at the same distance
    val h = Multimodal.imageDHash(assets)
    val l = h.select(col("asset_id").alias("id_a"), col("dhash").alias("ha"))
    val r = h.select(col("asset_id").alias("id_b"), col("dhash").alias("hb"))
    val exhaustive = l.join(r, col("id_a") < col("id_b"))
      .filter(graft.functions.SimHash.hammingDist(col("ha"), col("hb")) <= 2)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exhaustive)
  }

  test("image near-dup at corpus scale: planted clone pairs survive the " +
    "full scale_image_neardup path (spread + decode + capped blocked join)") {
    // the scale_image_neardup bench shape at unit-test size: proportional
    // corpus, REAL decode, hash-spread repartition, production hot-block
    // cap — proves the cap doesn't destroy planted-pair recall beyond the
    // 40-image lattice
    val n = 2000
    val assets = Multimodal.plantedImagesWithClones(spark, n, n / 4,
      cloneOffset = 1000000L, partitions = 16)
    val pairs = Multimodal.imageNearDupPairs(
      Multimodal.repartitionBySize(assets, 16), maxDist = 2,
      maxBucketSize = 2000)
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missing = (0L until (n / 4).toLong)
      .filterNot(id => got.contains((id, 1000000L + id)))
    assert(missing.isEmpty,
      s"${missing.size}/${n / 4} clone pairs missing, e.g. ${missing.take(5)}")
  }

  test("dHash rejects images smaller than the 9x8 box grid") {
    val tiny = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val e = intercept[IllegalArgumentException] {
      Multimodal.dhashFromImage(tiny)
    }
    assert(e.getMessage.contains("9x8"), e.getMessage)
  }

  test("non-image payload fails loudly, not with a null deref") {
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeImageMeta(
        Multimodal.assetsFromText(
          spark.range(1).select(col("id").alias("doc_id"),
            lit("not a png").alias("text")), "doc_id", "text")).collect()
    }
    assert(e.getMessage.contains("not a decodable image") ||
      Option(e.getCause).exists(_.getMessage.contains("not a decodable image")))
  }
}
