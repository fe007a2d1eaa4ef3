package graft.ext

import java.awt.image.BufferedImage

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column support: image/audio/video as opaque `binary` payloads
 * with typed metadata, plus decode / feature-extract / resize /
 * frame-sample stages.
 *
 * Two codec tiers: a REAL image codec on `javax.imageio` (JDK-built-in
 * PNG/JPEG/BMP/GIF — [[plantedImages]]/[[decodeImageMeta]]/[[imageIoCodec]]/
 * [[resizeImages]], oracle-gated by q_multimodal_decode), and a
 * deterministic FAKE for mime types the JDK cannot decode (audio/video):
 * fake features derive from the md5 of the payload, so every test is
 * reproducible. The Spark-side plumbing — schema, partitioning, batch
 * shape — is shared and real:
 *
 *  - assets are `(asset_id, payload: binary, meta: struct)` rows;
 *  - decode stages are per-row Column expressions where possible
 *    (codegen'd, no serialization). Every byte-level stage — the JDK
 *    codecs cannot be Catalyst expressions — runs through ONE
 *    per-partition path (`perAsset`, behind [[decodeBatches]] and the
 *    decode / resize / transcode / QA stages below), the way a real codec
 *    (JNI/FFI) is driven: one decoder instance per partition, rows
 *    streamed through, asset_id passed along;
 *  - 100 TB: payloads dominate size, so stages select-project only the
 *    columns they need (column pruning keeps payload bytes out of
 *    shuffles), and [[repartitionBySize]] balances skewed payload sizes
 *    across tasks before the expensive decode.
 */
object Multimodal {

  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("n_bytes", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType))))))

  /** Build an asset table from any (id, text) frame — the text bytes stand
    * in for an encoded image payload. */
  def assetsFromText(df: DataFrame, idCol: String, textCol: String,
                     mime: String = "image/fake"): DataFrame = {
    val payload = encode(col(textCol), "UTF-8")
    df.select(
      col(idCol).cast(LongType).alias("asset_id"),
      payload.alias("payload"),
      struct(
        lit(mime).alias("mime"),
        octet_length(payload).cast(LongType).alias("n_bytes"),
        // fake dimensions derived from content length — deterministic
        (pmod(octet_length(payload), lit(64)) + 32).cast(IntegerType).alias("width"),
        (pmod(octet_length(payload), lit(48)) + 24).cast(IntegerType).alias("height"))
        .alias("meta"))
  }

  /** STUB decode → feature vector: dim doubles in [0,1) derived from the
    * md5 digest of the payload (byte i of the digest / 256; digests chain
    * as md5(payload ++ blockIdx) past 16 dims). md5 — unlike xxhash — is
    * bit-identical across engines, so the fake decode is fully
    * DuckDB-oracle-checkable. A real pipeline swaps only this expression
    * for the codec call; schema and plan shape are unchanged. */
  def fakeDecodeFeatures(payload: Column, dim: Int): Column = {
    require(dim >= 1, s"dim must be >= 1, got $dim (sequence(0, dim-1) would " +
      "count DOWN for dim <= 0)")
    val nBlocks = (dim + 15) / 16
    val allHex = concat((0 until nBlocks).map { b =>
      if (b == 0) md5(payload)
      else md5(concat(payload, encode(lit(b.toString), "UTF-8")))
    }: _*)
    // split the digest into hex pairs FIRST so the md5 chain is the
    // transform's CHILD (evaluated once per row). Referencing allHex
    // inside the lambda would re-evaluate the digests once per output
    // element (the free-variable hazard documented at Dedup.wordShingles).
    // regexp_replace pairs up chars ("ab12" -> "ab,12,"); slice drops the
    // trailing empty split cell.
    val hexPairs = slice(split(regexp_replace(allHex, "(..)", "$1,"), ","), 1, dim)
    transform(hexPairs, h => conv(h, 16, 10).cast("double") / 256.0)
  }

  /** STUB resize: new meta dims, payload truncated proportionally —
    * exercises the withField/binary plumbing of a real resize. */
  def fakeResize(df: DataFrame, w: Int, h: Int): DataFrame =
    df.withColumn("meta", col("meta")
        .withField("width", lit(w).cast(IntegerType))
        .withField("height", lit(h).cast(IntegerType)))
      .withColumn("payload", substring(col("payload"), 1, w * h))

  /** STUB frame sampling for video-like payloads: every `step`-th frame
    * index with a per-frame content hash. */
  def fakeFrameSample(payload: Column, nFrames: Column, step: Int): Column = {
    require(step >= 1, s"step must be >= 1, got $step " +
      "(sequence() would reject a zero step per-row at execution time)")
    when(nFrames <= 0, array().cast("array<struct<frame_idx:long,frame_hash:long>>"))
      .otherwise(transform(sequence(lit(0L), (nFrames - 1).cast("long"), lit(step.toLong)),
        i => struct(i.alias("frame_idx"), xxhash64(payload, i).alias("frame_hash"))))
  }

  /** Feature extraction as a single narrow projection. */
  def extractFeatures(assets: DataFrame, dim: Int = 16): DataFrame =
    assets.select(col("asset_id"), col("meta.n_bytes").alias("n_bytes"),
      fakeDecodeFeatures(col("payload"), dim).alias("features"))

  /** Codec seam for [[decodeBatches]]: ONE instance per partition — the
    * shape per-executor state (JNI decoder handles, GPU contexts)
    * requires. The codec itself is constructed ON the executor by the
    * factory closure; only the factory crosses the wire, so codec state
    * (native handles) never needs to be serializable. */
  trait AssetCodec {
    def decode(payload: Array[Byte]): Array[Double]
  }

  /** The deterministic fake codec (no image/audio libs in this
    * container): features from the payload's JVM array hash. A real
    * pipeline swaps this factory for one that opens a native decoder. */
  private[ext] def fakeCodec(dim: Int): AssetCodec = new AssetCodec {
    def decode(payload: Array[Byte]): Array[Double] = {
      val h = java.util.Arrays.hashCode(payload).toLong
      Array.tabulate(dim)(i => math.abs((h * 31 + i) % 1000000L).toDouble / 1000000.0)
    }
  }

  /** The one per-partition path of every byte-level stage. `in` holds
    * asset_id first; `open` runs once per partition — where a stage opens
    * its decoder handles or writers — and returns the per-row function
    * whose fields follow the passed-through asset_id (a null id stays
    * null) in the `out` schema. Only `open` crosses the wire, so codec
    * state never needs to be serializable. */
  private def perAsset(in: DataFrame, out: StructType)(
      open: () => Row => Row): DataFrame = {
    val rows = in.rdd.mapPartitions { it =>
      val f = open()
      it.map { r =>
        val id = if (r.isNullAt(0)) null else r.getLong(0)
        Row.fromSeq(id +: f(r).toSeq)
      }
    }
    in.sparkSession.createDataFrame(rows, out)
  }

  private def idAndPayload(assets: DataFrame): DataFrame =
    assets.select(col("asset_id"), col("payload"))

  /** A stage's output schema: a nullable asset_id, then `fields`. */
  private def idSchema(fields: (String, DataType)*): StructType =
    StructType(StructField("asset_id", LongType) +:
      fields.map { case (n, t) => StructField(n, t) })

  /**
   * Batch decode for codecs that need per-executor state (decoder
   * handles, GPU contexts), on the same per-partition path every
   * byte-level stage here runs through. The decoder is the deterministic
   * fake; a real implementation swaps the factory only.
   */
  def decodeBatches(assets: DataFrame, dim: Int = 16): DataFrame =
    decodeBatches(assets, dim, () => fakeCodec(dim))

  /** [[decodeBatches]] with an explicit codec factory. The factory runs
    * exactly once per partition (property-tested), each row streams
    * through that one instance — never an init per row. Null payloads
    * give null features. */
  def decodeBatches(assets: DataFrame, dim: Int,
                    codecFactory: () => AssetCodec): DataFrame =
    perAsset(idAndPayload(assets),
        idSchema("features" -> ArrayType(DoubleType))) { () =>
      val codec = codecFactory() // init-once per partition
      r => Row(if (r.isNullAt(1)) null else codec.decode(r.getAs[Array[Byte]](1)))
    }

  /** Spread assets uniformly across tasks before an expensive decode so no
    * task inherits a clump of heavy payloads. Hash-spread gives equal
    * EXPECTED bytes per task (range-partitioning on size would do the
    * opposite — it concentrates the largest payloads into one range).
    * True byte-budget bin-packing needs a size-sorted striping pass and
    * belongs in offline layout, not per-query. */
  def repartitionBySize(assets: DataFrame, partitions: Int): DataFrame =
    // repartition's own HashPartitioning over the full id space IS the
    // hash-spread; pre-folding ids into `partitions` distinct salt values
    // (pmod(xxhash64(id), n)) and re-hashing those would leave ~1/e of
    // the partitions empty and stack heavies on the collisions
    assets.repartition(partitions, col("asset_id"))

  // ---- REAL image codec (javax.imageio — ships with the JDK) -----------
  // PNG is lossless, so encode→decode is bit-faithful to the source
  // pixels; the planted corpus below makes the whole pipeline
  // DuckDB-oracle-checkable because dims AND pixel values are pure
  // formulas of the asset id that SQL can recompute independently.

  locally { // BufferedImage/ImageIO are raster-only but insist on this
    System.setProperty("java.awt.headless", "true")
  }

  /** Planted image dims: (32 + id%64) × (24 + id%48). */
  private[ext] def plantedDims(id: Long): (Int, Int) =
    ((32 + id % 64).toInt, (24 + id % 48).toInt)

  /** Planted pixel channels at (x,y): r=(id+3x+7y)%256, g=(2id+5x+y)%256,
    * b=(3id+x+11y)%256 — mirrored EXACTLY by the q_multimodal_decode
    * oracle SQL (generate_series cross join). */
  private[ext] def plantedRgb(id: Long, x: Int, y: Int): Int = {
    val r = ((id + 3L * x + 7L * y) % 256).toInt
    val g = ((2L * id + 5L * x + y) % 256).toInt
    val b = ((3L * id + x + 11L * y) % 256).toInt
    (r << 16) | (g << 8) | b
  }

  /** r + g + b of one packed RGB pixel. */
  private def channelSum(rgb: Int): Int =
    ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)

  private def pngBytes(img: BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** A w×h RGB image whose pixel (x,y) is `rgb(x, y)`, as PNG bytes. */
  private def pngOf(w: Int, h: Int)(rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb(x, y)); x += 1 }
      y += 1
    }
    pngBytes(img)
  }

  /** Deterministic planted image encoded as REAL PNG bytes. */
  private[ext] def plantedPng(id: Long): Array[Byte] = {
    val (w, h) = plantedDims(id)
    pngOf(w, h)(plantedRgb(id, _, _))
  }

  private[ext] def readImage(bytes: Array[Byte]): BufferedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) throw new IllegalArgumentException(
      "payload is not a decodable image (no ImageIO reader matched)")
    img
  }

  /** An [[assetSchema]] table generated ON THE EXECUTORS (one encoder
    * loop per partition, payload bytes never touch the driver): row
    * i in [0, n) becomes `gen(i)` = (asset_id, payload, width, height),
    * with n_bytes the payload length and null dims for non-raster media. */
  private def plantedAssets(spark: SparkSession, n: Long, partitions: Int,
                            mime: String)(
      gen: Long => (Long, Array[Byte], Integer, Integer)): DataFrame = {
    val rows = spark.range(0, n, 1, partitions).rdd.map { i =>
      val (id, bytes, w, h) = gen(i)
      Row(id, bytes, Row(mime, bytes.length.toLong, w, h))
    }
    spark.createDataFrame(rows, assetSchema)
  }

  /** Planted-PNG asset table, generated on the executors. Same schema as
    * [[assetsFromText]]. */
  def plantedImages(spark: SparkSession, n: Int,
                    partitions: Int = 8): DataFrame =
    plantedAssets(spark, n, partitions, "image/png") { id =>
      val (w, h) = plantedDims(id)
      (id, plantedPng(id), w, h)
    }

  /** REAL decode → per-image dimensions + exact pixel-channel sum
    * (Σ r+g+b over all pixels, a long). Per partition, not a UDF-per-row:
    * one reusable decode path per partition, payload column pruned away
    * after this stage. At 100 TB this is the narrow "open every blob
    * once" pass; everything downstream is small typed rows. */
  def decodeImageMeta(assets: DataFrame): DataFrame =
    perAsset(idAndPayload(assets), idSchema("width" -> IntegerType,
        "height" -> IntegerType, "pixel_sum" -> LongType)) { () => r =>
      if (r.isNullAt(1)) Row(null, null, null)
      else {
        val img = readImage(r.getAs[Array[Byte]](1))
        val (w, h) = (img.getWidth, img.getHeight)
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += channelSum(img.getRGB(x, y)); x += 1 }
          y += 1
        }
        Row(w, h, sum)
      }
    }

  /** REAL codec through the [[AssetCodec]] seam: decode the image, split
    * it into `dim` vertical strips, mean luminance (r+g+b)/3/255 per
    * strip — an actual content-derived feature vector in [0,1]. Drops in
    * wherever [[fakeCodec]] does ([[decodeBatches]] factory). */
  def imageIoCodec(dim: Int): AssetCodec = new AssetCodec {
    def decode(payload: Array[Byte]): Array[Double] = {
      val img = readImage(payload)
      val (w, h) = (img.getWidth, img.getHeight)
      val sums = new Array[Long](dim)
      val counts = new Array[Long](dim)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val strip = math.min(dim - 1, x * dim / w)
          sums(strip) += channelSum(img.getRGB(x, y))
          counts(strip) += 1
          x += 1
        }
        y += 1
      }
      Array.tabulate(dim)(i =>
        if (counts(i) == 0) 0.0 else sums(i).toDouble / counts(i) / 3.0 / 255.0)
    }
  }

  // ---- perceptual image hashing (dHash) ---------------------------------

  /** Perturbed-clone pixel rule: the base image's channels, each nudged
    * ±8 (away from the 0/255 rails, never wrapping) on the sparse lattice
    * `(x + y) % 37 == 0` — ~3% of pixels move by ~3% of the range, the
    * "re-encoded thumbnail" perturbation a perceptual hash must absorb.
    * A pure formula of (baseId, x, y) so the DuckDB oracle recomputes
    * clone pixels — and therefore clone dHashes — without decoding. */
  private[ext] def perturbedRgb(baseId: Long, x: Int, y: Int): Int = {
    val rgb = plantedRgb(baseId, x, y)
    if ((x + y) % 37 != 0) rgb
    else {
      def nudge(c: Int): Int = if (c < 128) c + 8 else c - 8
      (nudge((rgb >> 16) & 0xff) << 16) | (nudge((rgb >> 8) & 0xff) << 8) |
        nudge(rgb & 0xff)
    }
  }

  private[ext] def perturbedPng(baseId: Long): Array[Byte] = {
    val (w, h) = plantedDims(baseId)
    pngOf(w, h)(perturbedRgb(baseId, _, _))
  }

  /** Planted originals 0..n-1 plus perturbed near-duplicate clones of the
    * first `nClones` (clone asset_id = cloneOffset + baseId), generated
    * on the executors like [[plantedImages]]. The corpus every image
    * near-dup gate runs on: clone↔original pairs are TRUE near-dups by
    * construction, distinct planted images are far apart. */
  def plantedImagesWithClones(spark: SparkSession,
                              n: Int, nClones: Int,
                              cloneOffset: Long = 100000L,
                              partitions: Int = 8): DataFrame = {
    require(nClones <= n, s"nClones $nClones > n $n")
    require(cloneOffset >= n, "cloneOffset must clear the original id range")
    plantedAssets(spark, n + nClones, partitions, "image/png") { i =>
      val base = if (i < n) i else i - n
      val (w, h) = plantedDims(base)
      if (i < n) (i, plantedPng(i), w, h)
      else (cloneOffset + base, perturbedPng(base), w, h)
    }
  }

  /** 64-bit difference hash (dHash) of a decoded image: 9×8 area-binned
    * gray boxes (gray = r+g+b, box of pixel x = `x*9/w` — plain integer
    * floor), bit `by*8+bx` set iff box (bx+1, by) has the strictly
    * greater mean gray than box (bx, by). The mean comparison is EXACT
    * cross-multiplied integer arithmetic (sumR·cntL > sumL·cntR — no
    * float division), so an engine that can only see the pixel FORMULA
    * (DuckDB) derives bit-identical hashes to one that decodes real PNG
    * bytes (PNG is lossless). Products stay far below 2^63 (box sum ≤
    * 765·boxPixels, boxPixels ≤ a few hundred at sane sizes). */
  private[ext] def dhashFromImage(img: BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    require(w >= 9 && h >= 8,
      s"dhash needs at least 9x8 pixels, got ${w}x$h (resize first)")
    val sums = Array.ofDim[Long](9, 8)
    val cnts = Array.ofDim[Long](9, 8)
    var y = 0
    while (y < h) {
      val by = y * 8 / h
      var x = 0
      while (x < w) {
        val bx = x * 9 / w
        sums(bx)(by) += channelSum(img.getRGB(x, y))
        cnts(bx)(by) += 1L
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        if (sums(bx + 1)(by) * cnts(bx)(by) > sums(bx)(by) * cnts(bx + 1)(by))
          hash |= 1L << (by * 8 + bx)
        bx += 1
      }
      by += 1
    }
    hash
  }

  /** Per-asset perceptual hash: decode → [[dhashFromImage]]. Same
    * per-partition path as [[decodeImageMeta]] — one decode pass, the
    * payload column dies here, downstream moves (asset_id, dhash) longs
    * only. Null payloads yield null hashes. */
  def imageDHash(assets: DataFrame): DataFrame =
    perAsset(idAndPayload(assets), idSchema("dhash" -> LongType)) { () => r =>
      Row(if (r.isNullAt(1)) null
          else dhashFromImage(readImage(r.getAs[Array[Byte]](1))))
    }

  /** Image near-duplicate pairs: dHash + the pigeonhole Hamming blocking
    * shared with SimHash ([[graft.ext.Dedup.hammingPairs]] — provably
    * total recall, blocked ≡ exhaustive). Output (id_a, id_b, hamming),
    * id_a < id_b. 100 TB shape: one decode pass, then only 8-byte hashes
    * move; candidate generation is an equi-self-join on hash blocks,
    * never an all-pairs product. */
  def imageNearDupPairs(assets: DataFrame, maxDist: Int = 6,
                        maxBucketSize: Int = Int.MaxValue): DataFrame =
    Dedup.hammingPairs(imageDHash(assets), "dhash", "asset_id",
      maxDist, maxBucketSize)

  // ---- REAL audio codec (javax.sound.sampled — also JDK-built-in) ------
  // WAV/PCM16 is lossless like PNG, so the same oracle strategy applies:
  // samples are a pure formula of (id, t) that DuckDB recomputes without
  // ever seeing the WAV bytes.

  private val AudioSampleRate = 8000f

  /** Planted sample count: 800 + (id%32)·25 (0.1–0.2 s at 8 kHz). */
  private[ext] def plantedWavLen(id: Long): Int = 800 + (id % 32).toInt * 25

  /** Planted PCM16 sample at frame t: ((7·id + 13·t) mod 2001) − 1000 —
    * int16-safe, mirrored EXACTLY by the q_multimodal_audio oracle. */
  private[ext] def plantedSample(id: Long, t: Int): Int =
    ((id * 7 + t * 13L) % 2001).toInt - 1000

  /** Deterministic planted clip encoded as a REAL mono PCM16 WAV. */
  private[ext] def plantedWav(id: Long): Array[Byte] = {
    val n = plantedWavLen(id)
    val pcm = new Array[Byte](n * 2)
    var t = 0
    while (t < n) { // little-endian int16 frames
      val v = plantedSample(id, t)
      pcm(2 * t) = (v & 0xff).toByte
      pcm(2 * t + 1) = ((v >> 8) & 0xff).toByte
      t += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(AudioSampleRate, 16, 1,
      true /*signed*/, false /*little-endian*/)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Decode a WAV payload back to int16 samples (any PCM16 mono WAV). */
  private[ext] def readWavSamples(bytes: Array[Byte]): Array[Int] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"expected mono PCM16, got $fmt")
      val raw = ais.readAllBytes()
      val out = new Array[Int](raw.length / 2)
      var i = 0
      while (i < out.length) {
        val lo = raw(2 * i) & 0xff
        val hi = raw(2 * i + 1).toInt // sign-extends
        out(i) = if (fmt.isBigEndian) (lo << 8) | (hi & 0xff) else (hi << 8) | lo
        i += 1
      }
      out
    } finally ais.close()
  }

  /** Planted-WAV asset table, encoded ON the executors ([[assetSchema]];
    * image dims are null for audio). */
  def plantedAudio(spark: SparkSession, n: Int,
                   partitions: Int = 8): DataFrame =
    plantedAssets(spark, n, partitions, "audio/wav")(id =>
      (id, plantedWav(id), null, null))

  /** REAL audio decode → per-clip sample count, exact sample sum, and
    * exact energy (Σ v², a long) — the audio analogue of
    * [[decodeImageMeta]]: one "open every blob" pass, narrow rows out. */
  def decodeAudioMeta(assets: DataFrame): DataFrame =
    perAsset(idAndPayload(assets), idSchema("n_samples" -> IntegerType,
        "sample_sum" -> LongType, "energy" -> LongType)) { () => r =>
      if (r.isNullAt(1)) Row(null, null, null)
      else {
        val s = readWavSamples(r.getAs[Array[Byte]](1))
        var sum = 0L
        var energy = 0L
        var i = 0
        while (i < s.length) { sum += s(i); energy += s(i).toLong * s(i); i += 1 }
        Row(s.length, sum, energy)
      }
    }

  /** REAL resize: decode → Graphics2D bilinear scale → PNG re-encode,
    * meta dims updated. Same plumbing shape as [[fakeResize]], actual
    * pixels. A null payload keeps its input mime. */
  def resizeImages(assets: DataFrame, w: Int, h: Int): DataFrame =
    perAsset(assets.select(col("asset_id"), col("payload"), col("meta.mime")),
        assetSchema) { () => r =>
      if (r.isNullAt(1)) Row(null, Row(r.getString(2), null, null, null))
      else {
        val src = readImage(r.getAs[Array[Byte]](1))
        val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(src, 0, 0, w, h, null); ()
        } finally g.dispose()
        val png = pngBytes(dst)
        Row(png, Row("image/png", png.length.toLong, w, h))
      }
    }

  // ---- REAL document codec (PDF subset — pure JVM, round 14) -----------
  // Real training pipelines carry PDFs alongside images/audio. The JDK has
  // no PDF library, but the format's CLASSIC subset (PDF 1.4: flat object
  // dicts, literal-string Tj/TJ text operators, uncompressed or
  // FlateDecode content streams — java.util.zip inflates those) is small
  // enough to read honestly in pure JVM. SUPPORTED SUBSET, stated plainly:
  // no encryption, no object/xref streams (PDF 1.5+ compressed xref), no
  // indirect /Length refs, no CID/hex-string text, no font-encoding
  // remapping — i.e. the output of simple generators, which is exactly
  // what the planted corpus emits (and what a real pipeline would route
  // to a full parser only after THIS cheap pass triages by page count /
  // extractable text). Reference behavior target: the reference engine
  // treats documents as opaque payloads with typed metadata
  // (polars-nexpresso has no PDF codec either) — this tier extends the
  // same planted-formula oracle idiom the PNG/WAV/JPEG tiers use.

  /** Planted page count: 1 + id % 4. */
  private[ext] def plantedPdfPages(id: Long): Int = (1 + id % 4).toInt

  /** Planted page text — mirrored EXACTLY by the q_multimodal_pdf oracle:
    * 'doc <id> page <p>' + ' lorem' × (1 + (id+p) % 3). */
  private[ext] def plantedPdfPageText(id: Long, p: Int): String =
    s"doc $id page $p" + " lorem" * (1 + ((id + p) % 3)).toInt

  private[ext] def pdfEscape(s: String): String = s.flatMap {
    case '\\' => "\\\\"; case '(' => "\\("; case ')' => "\\)"
    case c => c.toString
  }

  private def deflateBytes(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(b); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Hard ceiling on a single FlateDecode stream's inflated size
    * (ADVICE r14): deflate tops out near 1032:1, so a ~64 KB stream in
    * an untrusted blob can legally claim ~64 MB and a crafted
    * decompression bomb far more — unbounded, that is an executor OOM
    * (an Error the per-row NonFatal catch does NOT stop) failing the
    * whole triage sweep. Past the cap the stream is treated like any
    * other undecodable stream: an exception the per-row try/catch
    * degrades to "" / pdf_magic_ok=false. 64 MB is ~3 orders of
    * magnitude above any real single page-content stream. */
  private[ext] val MaxInflatedBytes: Long = 64L << 20

  private[ext] def inflateBytes(b: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(b)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n > 0) {
          if (out.size().toLong + n > MaxInflatedBytes)
            throw new IllegalArgumentException(
              s"FlateDecode output exceeds the $MaxInflatedBytes-byte cap " +
                "(decompression bomb?)")
          out.write(buf, 0, n)
        }
        else if (inf.needsDictionary()) throw new IllegalArgumentException(
          "FlateDecode stream needs a preset dictionary (unsupported)")
      }
    } finally inf.end()
    out.toByteArray
  }

  private val Latin1 = java.nio.charset.StandardCharsets.ISO_8859_1

  /** Deterministic planted document as REAL PDF 1.4 bytes: catalog /
    * pages / Type1 font / one content stream per page with a single Tj.
    * Odd ids FlateDecode their content streams, even ids store them raw,
    * so the parser's both paths stay exercised. Byte-exact xref offsets
    * (standard viewers open these). */
  private[ext] def plantedPdf(id: Long): Array[Byte] = {
    val np = plantedPdfPages(id)
    val flate = id % 2 == 1
    val objs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def obj(n: Int, body: String): Array[Byte] =
      s"$n 0 obj\n$body\nendobj\n".getBytes(Latin1)
    val kids = (0 until np).map(p => s"${4 + 2 * p} 0 R").mkString(" ")
    objs += obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    objs += obj(2, s"<< /Type /Pages /Kids [$kids] /Count $np >>")
    objs += obj(3, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    (0 until np).foreach { p =>
      val contObj = 5 + 2 * p
      objs += obj(4 + 2 * p,
        s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F1 3 0 R >> >> /Contents $contObj 0 R >>")
      val content = "BT /F1 12 Tf 72 720 Td " +
        s"(${pdfEscape(plantedPdfPageText(id, p))}) Tj ET"
      val data = if (flate) deflateBytes(content.getBytes(Latin1))
                 else content.getBytes(Latin1)
      val filter = if (flate) " /Filter /FlateDecode" else ""
      objs += (s"$contObj 0 obj\n<< /Length ${data.length}$filter >>\nstream\n"
        .getBytes(Latin1) ++ data ++ "\nendstream\nendobj\n".getBytes(Latin1))
    }
    val bos = new java.io.ByteArrayOutputStream()
    // the high-bit comment line marks the file binary-safe, per spec
    bos.write("%PDF-1.4\n%âãÏÓ\n".getBytes(Latin1))
    val offsets = objs.map { o => val off = bos.size(); bos.write(o); off }
    val xrefOff = bos.size()
    val sb = new StringBuilder
    sb.append(s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\n")
    sb.append(s"startxref\n$xrefOff\n%%EOF\n")
    bos.write(sb.toString.getBytes(Latin1))
    bos.toByteArray
  }

  /** Planted-PDF asset table, generated ON THE EXECUTORS like
    * [[plantedImages]] (payload bytes never touch the driver); width /
    * height are null — paged documents have no raster dims. */
  def plantedPdfs(spark: SparkSession, n: Int,
                  partitions: Int = 8): DataFrame =
    plantedAssets(spark, n, partitions, "application/pdf")(id =>
      (id, plantedPdf(id), null, null))

  /** Literal strings inside BT..ET blocks of one decoded content stream,
    * PDF escapes resolved (\\( \\) \\\\ \\n \\r \\t \\b \\f and octal
    * \\ddd), nested balanced parens honored. Tj draws one string, TJ
    * draws its array's string elements in order — so in-order
    * concatenation of the literals IS the drawn text for this subset. */
  private[ext] def pdfContentText(content: String): String = {
    val out = new StringBuilder
    val len = content.length
    // BT/ET must match as OPERATOR TOKENS (delimiter-bounded), never as
    // substrings: 'BT (BUDGET REPORT) Tj ET' contains 'ET' inside the
    // literal, and a raw indexOf would truncate extraction mid-word.
    // Literals are consumed atomically in BOTH states (a '(see BT…)'
    // string outside a text block must not flip the state machine), so
    // operator scanning only ever looks at non-string bytes.
    def isDelim(c: Char): Boolean =
      c.isWhitespace || "()<>[]{}/%".indexOf(c.toInt) >= 0
    def tokenAt(j: Int, t: String): Boolean =
      content.startsWith(t, j) &&
        (j == 0 || isDelim(content.charAt(j - 1))) &&
        (j + t.length >= len || isDelim(content.charAt(j + t.length)))
    // consume one literal starting at '(' (index of the open paren);
    // append resolved chars to `out` only when `keep`; returns the index
    // just past the closing paren
    def literal(start: Int, keep: Boolean): Int = {
      var j = start + 1
      var depth = 1
      def put(c: Char): Unit = { if (keep) out.append(c); () }
      while (j < len && depth > 0) {
        val c = content.charAt(j)
        if (c == '\\' && j + 1 < len) {
          content.charAt(j + 1) match {
            case 'n' => put('\n'); j += 2
            case 'r' => put('\r'); j += 2
            case 't' => put('\t'); j += 2
            case 'b' => put('\b'); j += 2
            case 'f' => put('\f'); j += 2
            case d if d >= '0' && d <= '7' =>
              val oct = content.substring(j + 1,
                math.min(j + 4, len)).takeWhile(ch => ch >= '0' && ch <= '7')
              put(Integer.parseInt(oct, 8).toChar)
              j += 1 + oct.length
            case e => put(e); j += 2 // includes ( ) \
          }
        } else if (c == '(') { depth += 1; put(c); j += 1 }
        else if (c == ')') { depth -= 1; if (depth > 0) put(c); j += 1 }
        else { put(c); j += 1 }
      }
      j
    }
    var i = 0
    var inText = false
    while (i < len) {
      val c = content.charAt(i)
      if (c == '(') i = literal(i, keep = inText)
      else if (!inText && tokenAt(i, "BT")) { inText = true; i += 2 }
      else if (inText && tokenAt(i, "ET")) { inText = false; i += 2 }
      else i += 1
    }
    out.toString
  }

  /** Parse one PDF payload → (page count, magic ok, extracted text).
    * Page count = `/Type /Page` occurrences (the non-/Pages kind); text =
    * per-content-stream [[pdfContentText]] joined with \n in stream
    * order (our subset's page order, and simple generators' too).
    * Latin-1 is the scan charset — it is byte-preserving, so char
    * offsets ARE byte offsets and binary Flate data slices exactly. */
  private[ext] def parsePdf(bytes: Array[Byte]): (Int, Boolean, String) = {
    val s = new String(bytes, Latin1)
    val magic = s.startsWith("%PDF-") && s.contains("%%EOF")
    val pm = java.util.regex.Pattern.compile("/Type\\s*/Page(?![a-zA-Z0-9])")
      .matcher(s)
    var nPages = 0
    while (pm.find()) nPages += 1
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      val st = s.indexOf("stream", i)
      if (st < 0 || st + 6 >= s.length) i = s.length
      // "stream" found as the tail of an "endstream" keyword — skip it
      else if (st >= 3 && s.regionMatches(st - 3, "end", 0, 3)) i = st + 6
      else {
        // data starts after the keyword's EOL; the owning dict is the
        // text between the enclosing "N 0 obj" and the keyword. Clamp to
        // the payload length — a blob truncated right after "stream\r"
        // must degrade (empty slice), not throw from copyOfRange
        val dataStart = math.min(s.length,
          if (s.charAt(st + 6) == '\r') st + 8
          else if (s.charAt(st + 6) == '\n') st + 7
          else st + 6)
        val objAt = s.lastIndexOf(" obj", st)
        val dict = s.substring(math.max(0, if (objAt < 0) 0 else objAt), st)
        // (?!\d) pins the full number (no backtracking into a shorter
        // match); the second lookahead rejects indirect refs "/Length 5 0 R"
        val lenM = java.util.regex.Pattern
          .compile("/Length\\s+(\\d+)(?!\\d)(?!\\s+\\d+\\s+R)").matcher(dict)
        // absurd /Length digit strings (corrupt blob) fall back to the
        // endstream scan instead of overflowing
        val declaredLen = if (lenM.find())
          scala.util.Try(lenM.group(1).toLong).toOption.filter(_ <= s.length.toLong)
        else None
        val dataEnd = math.max(dataStart,
          declaredLen match {
            case Some(n) => math.min(dataStart.toLong + n, s.length.toLong).toInt
            case None =>
              val e = s.indexOf("endstream", dataStart)
              if (e < 0) s.length
              else if (e >= 2 && s.charAt(e - 2) == '\r' && s.charAt(e - 1) == '\n') e - 2
              else if (e >= 1 && s.charAt(e - 1) == '\n') e - 1
              else e
          })
        val raw = java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd)
        val decoded =
          if (dict.contains("/FlateDecode"))
            try new String(inflateBytes(raw), Latin1)
            catch { case _: Throwable => "" } // undecodable stream: no text
          else new String(raw, Latin1)
        val t = pdfContentText(decoded)
        if (t.nonEmpty) texts += t
        val e = s.indexOf("endstream", dataEnd)
        i = if (e < 0) s.length else e + 9
      }
    }
    (nPages, magic, texts.mkString("\n"))
  }

  /** Paged-document metadata + text extraction over a PDF asset corpus:
    * (asset_id, n_pages, pdf_magic_ok, text). The 100 TB triage pass —
    * one cheap narrow open per blob, on the per-partition path of
    * [[decodeImageMeta]] (byte-level codecs can't be Catalyst
    * expressions); everything downstream is small typed rows. Null
    * payloads degrade to null fields. */
  def pdfTextMeta(assets: DataFrame): DataFrame =
    perAsset(idAndPayload(assets), idSchema("n_pages" -> IntegerType,
        "pdf_magic_ok" -> BooleanType, "text" -> StringType)) { () => r =>
      if (r.isNullAt(1)) Row(null, null, null)
      else try {
        val (np, magic, text) = parsePdf(r.getAs[Array[Byte]](1))
        Row(np, magic, text)
      } catch {
        // a triage pass over untrusted blobs must degrade per row, not
        // fail the sweep: any malformed byte sequence the parser chokes
        // on reports pdf_magic_ok=false with null pages/text
        case scala.util.control.NonFatal(_) => Row(null, false, null)
      }
    }

  /** REAL transcode: decode any ImageIO-readable payload and re-encode it
    * as `format` ("jpg"/"png"/...) at an explicit compression quality —
    * the storage-compaction pass a 100 TB image corpus runs before
    * training (lossless crawl dumps → quality-bounded JPEG cuts payload
    * bytes ~5-10×). One decode+encode per blob on the per-partition
    * path (JDK codecs can't be Catalyst expressions — same justification
    * as [[decodeImageMeta]]); the writer and its parameters are set up
    * once per partition and the writer is disposed when the task ends.
    * Meta is recomputed (mime, n_bytes; dims are preserved by the
    * transcode and re-read from the decoded image); a null payload keeps
    * its null bytes and reports the target mime. */
  def transcodeImages(assets: DataFrame, format: String,
                      quality: Float = 0.9f): DataFrame = {
    require(quality > 0f && quality <= 1f, s"quality in (0,1], got $quality")
    val mime = format.toLowerCase match {
      case "jpg" | "jpeg" => "image/jpeg"
      case "png" => "image/png"
      case other => s"image/$other"
    }
    perAsset(idAndPayload(assets), assetSchema) { () =>
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName(format).next()
      TaskContext.get().addTaskCompletionListener[Unit](_ => writer.dispose())
      val params = writer.getDefaultWriteParam
      if (params.canWriteCompressed) {
        params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        // PNG's "quality" knob is a compression-effort hint; JPEG's
        // is the actual lossy quality — both accept [0,1]
        if (params.getCompressionType == null &&
            params.getCompressionTypes != null &&
            params.getCompressionTypes.nonEmpty)
          params.setCompressionType(params.getCompressionTypes()(0))
        params.setCompressionQuality(quality)
      }
      r =>
        if (r.isNullAt(1)) Row(null, Row(mime, null, null, null))
        else {
          val src = readImage(r.getAs[Array[Byte]](1))
          // JPEG writers reject alpha / non-RGB rasters — normalize
          val rgb =
            if (src.getType == BufferedImage.TYPE_INT_RGB) src
            else {
              val c = new BufferedImage(src.getWidth, src.getHeight,
                BufferedImage.TYPE_INT_RGB)
              val g = c.createGraphics()
              try g.drawImage(src, 0, 0, null) finally g.dispose()
              c
            }
          val bos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          try {
            writer.setOutput(ios)
            writer.write(null, new javax.imageio.IIOImage(rgb, null, null), params)
          } finally ios.close()
          val bytes = bos.toByteArray
          Row(bytes, Row(mime, bytes.length.toLong, rgb.getWidth, rgb.getHeight))
        }
    }
  }

  /** Pixel-level QA between two asset corpora sharing ids (original vs
    * transcoded/resized): decode both payloads per pair and emit the
    * dims of each side plus the mean absolute per-channel error —
    * the acceptance gate for any lossy re-encode sweep. One equi-join
    * on asset_id (payloads travel once), then a narrow per-pair decode;
    * the output is tiny typed rows. Dim-mismatched pairs report a null
    * error (resize changes dims — the caller compares what it asked
    * for) rather than failing the sweep. A null payload on either side
    * degrades the same way — null dims for the missing side, null error —
    * so a corpus [[transcodeImages]] passed through (which propagates
    * null inputs as null outputs) QAs without executor NPEs. */
  def imagePairError(a: DataFrame, b: DataFrame): DataFrame = {
    val paired = a.select(col("asset_id"), col("payload").alias("__pa"))
      .join(b.select(col("asset_id"), col("payload").alias("__pb")),
        Seq("asset_id"))
    perAsset(paired, idSchema("width_a" -> IntegerType, "height_a" -> IntegerType,
        "width_b" -> IntegerType, "height_b" -> IntegerType,
        "mean_abs_err" -> DoubleType)) { () => r =>
      val ia = if (r.isNullAt(1)) null else readImage(r.getAs[Array[Byte]](1))
      val ib = if (r.isNullAt(2)) null else readImage(r.getAs[Array[Byte]](2))
      def dim(i: BufferedImage, f: BufferedImage => Int): Integer =
        if (i == null) null else Integer.valueOf(f(i))
      val (wa, ha) = (dim(ia, _.getWidth), dim(ia, _.getHeight))
      val (wb, hb) = (dim(ib, _.getWidth), dim(ib, _.getHeight))
      val err: java.lang.Double =
        if (ia == null || ib == null || wa != wb || ha != hb) null
        else {
          var sum = 0L
          var y = 0
          while (y < ha) {
            var x = 0
            while (x < wa) {
              val pa = ia.getRGB(x, y)
              val pb = ib.getRGB(x, y)
              sum += math.abs(((pa >> 16) & 0xff) - ((pb >> 16) & 0xff)) +
                math.abs(((pa >> 8) & 0xff) - ((pb >> 8) & 0xff)) +
                math.abs((pa & 0xff) - (pb & 0xff))
              x += 1
            }
            y += 1
          }
          java.lang.Double.valueOf(sum.toDouble / (3.0 * wa * ha))
        }
      Row(wa, ha, wb, hb, err)
    }
  }
}
