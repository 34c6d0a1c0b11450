package graft.ext

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, processed per-partition in batches.
  *
  * IMAGE payloads decode for REAL via the JVM's own codec stack
  * ([[ImageCodec]] — `javax.imageio`, PNG/JPEG/GIF/BMP: bytes → pixels →
  * width/height/channels + a pixel-content checksum); payloads the JVM
  * cannot decode (audio/video — no codec ships with the JDK — and the
  * text-bytes stand-in corpus) fall back to [[FakeDecoder]], a
  * clearly-marked deterministic stub. Everything Spark-side is real and
  * tested either way: the schema, the binary column handling, the
  * mapPartitions batch shape (decode-per-partition, never per-row driver
  * calls), and the pushdown-friendly metadata projection.
  *
  * At 100 TB the layout matters more than the codec: payloads live in their
  * own column (parquet column pruning means metadata-only queries never read
  * bytes), and partition counts are sized by `media_bytes`, not row count.
  */
object Multimodal {
  /** One media row: payload + typed metadata. */
  final case class MediaItem(doc_id: Long, kind: String, media: Array[Byte])

  /** Decoded-media metadata. `channels` is the decoded raster's band count
    * (3 = RGB, 4 = RGBA, 1 = gray); 0 marks the [[FakeDecoder]] fallback —
    * a consumer can split real-decoded rows from stubbed ones on it. */
  final case class MediaMeta(doc_id: Long, kind: String, n_bytes: Long,
      width: Int, height: Int, channels: Int, checksum: Long)

  /** REAL image codec over the JDK's `javax.imageio` stack (PNG, JPEG,
    * GIF, BMP — present in every JVM, no extra dependency). Headless-safe:
    * `BufferedImage` never touches a display. A cheap magic-byte sniff
    * gates the reader lookup so non-image payloads (the common case in a
    * mixed corpus) skip ImageIO entirely and cost one array probe. */
  object ImageCodec {
    /** Magic-byte sniff: does the payload LOOK like a supported image?
      * Null-safe — a null payload (null source text upstream) is not an
      * image. */
    def looksLikeImage(bytes: Array[Byte]): Boolean =
      bytes != null && bytes.length >= 8 && {
        val b0 = bytes(0) & 0xFF; val b1 = bytes(1) & 0xFF
        val b2 = bytes(2) & 0xFF
        (b0 == 0x89 && b1 == 'P' && b2 == 'N') || // PNG
        (b0 == 0xFF && b1 == 0xD8 && b2 == 0xFF) || // JPEG
        (b0 == 'G' && b1 == 'I' && b2 == 'F') || // GIF
        (b0 == 'B' && b1 == 'M') // BMP
      }

    /** The sniffed format name, for the per-thread reader cache; None
      * when the payload is not a supported image. */
    private def sniffFormat(bytes: Array[Byte]): Option[String] =
      if (bytes == null || bytes.length < 8) None
      else {
        val b0 = bytes(0) & 0xFF; val b1 = bytes(1) & 0xFF
        val b2 = bytes(2) & 0xFF
        if (b0 == 0x89 && b1 == 'P' && b2 == 'N') Some("png")
        else if (b0 == 0xFF && b1 == 0xD8 && b2 == 0xFF) Some("jpg")
        else if (b0 == 'G' && b1 == 'I' && b2 == 'F') Some("gif")
        else if (b0 == 'B' && b1 == 'M') Some("bmp")
        else None
      }

    /** Per-(thread, format) REUSED ImageReaders — the read-side twin of
      * the writer cache above: `ImageIO.read` also pays an IIORegistry
      * lookup per call, and the sniff already names the format, so the
      * reader resolves once per thread. `setInput` + `read(0)` per item;
      * decoded pixels are the reader's output, identical to the
      * one-shot `ImageIO.read` path. */
    private val readersTl =
      ThreadLocal.withInitial[java.util.HashMap[String, javax.imageio.ImageReader]](
        () => new java.util.HashMap[String, javax.imageio.ImageReader]())
    /** bytes → BufferedImage; None when not decodable as an image. */
    def readImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
      sniffFormat(bytes).flatMap { fmt =>
        try {
          val cache = readersTl.get()
          var r = cache.get(fmt)
          if (r == null) {
            r = javax.imageio.ImageIO.getImageReadersByFormatName(fmt).next()
            cache.put(fmt, r)
          }
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            r.reset(); r.setInput(iis)
            Option(r.read(0))
          } finally iis.close()
        } catch { case NonFatal(_) => None }
      }

    /** Per-thread REUSED ImageWriters (r16, with the bench's new
      * `cpu_par` instrument in hand): `ImageIO.write` performs an
      * IIORegistry service lookup per CALL, and those lookups contend
      * across task threads — `q_media_decode_real` measured 3.6-way
      * achieved parallelism on a 32-thread run while the heavier-CPU
      * mixed-codec entry read 17.2-way (more real work per lock
      * acquisition). One writer per (thread, format), `reset` +
      * `setOutput` per item, default write params — the encoded bytes
      * are produced by the SAME writer class with the same defaults, so
      * payload determinism is unchanged (and no gated projection carries
      * container bytes anyway). Task threads are pooled and bounded, so
      * the per-thread writers are too. */
    private def writerFor(format: String) =
      ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
        javax.imageio.ImageIO.getImageWritersByFormatName(format).next())
    private val pngWriterTl = writerFor("png")
    private val jpgWriterTl = writerFor("jpg")
    private def encodeWith(tl: ThreadLocal[javax.imageio.ImageWriter],
        img: java.awt.image.BufferedImage): Array[Byte] = {
      val w = tl.get()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        w.reset(); w.setOutput(ios)
        w.write(img)
      } finally ios.close()
      bos.toByteArray
    }

    /** BufferedImage → PNG bytes (the JDK PNG writer is deterministic for
      * a given image, so synthesized payloads are stable across runs). */
    def encodePng(img: java.awt.image.BufferedImage): Array[Byte] =
      encodeWith(pngWriterTl, img)

    /** BufferedImage → baseline JPEG bytes via the JDK's own writer — the
      * second REAL in-sandbox codec (the r11 rule: javax.imageio ships
      * PNG/JPEG/GIF/BMP). JPEG is LOSSY: dimensions and band count survive
      * the round trip exactly (what the routing gate certifies); pixel
      * values do not (pixel-exact certificates stay PNG-only —
      * [[Multimodal.averageHash]]). */
    def encodeJpeg(img: java.awt.image.BufferedImage): Array[Byte] =
      encodeWith(jpgWriterTl, img)

    /** Real decode: pixels, dimensions, band count, and a checksum folded
      * over the ARGB pixel CONTENT (not the container bytes — two encodings
      * of the same pixels hash equal). None → caller falls back to the
      * stub. */
    def decode(item: MediaItem): Option[MediaMeta] =
      readImage(item.media).map { img =>
        val w = img.getWidth; val h = img.getHeight
        var cs = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { cs = cs * 31 + img.getRGB(x, y); x += 1 }
          y += 1
        }
        MediaMeta(item.doc_id, item.kind, item.media.length.toLong, w, h,
          img.getRaster.getNumBands, cs)
      }
  }

  /** Deterministic fallback for payloads the JVM cannot decode (marked by
    * `channels = 0`). A real deployment swaps this for an audio/video
    * library call; the signature (bytes in, metadata out, called once per
    * item inside a partition batch) is the real contract. */
  object FakeDecoder {
    def decode(item: MediaItem): MediaMeta = {
      // null payload (upstream null text): zero-byte stub metadata — the
      // fuzzer-found NPE class; parity with the mirrors' NULL-propagating
      // strlen arithmetic is kept by the consumers' stated filters
      if (item.media == null)
        return MediaMeta(item.doc_id, item.kind, 0L, 0, 0, 0, 0L)
      val n = item.media.length.toLong
      // xor-fold checksum: stands in for a content hash
      var cs = 0L
      var i = 0
      while (i < item.media.length) { cs = cs * 31 + (item.media(i) & 0xFF); i += 1 }
      MediaMeta(item.doc_id, item.kind, n,
        width = (n % 640).toInt, height = (n % 480).toInt, channels = 0,
        checksum = cs)
    }
  }

  /** Derives a binary media column from `documents` (text bytes stand in
    * for real payloads; schema/partitioning are what is under test). */
  def attachMedia(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), lit("image").as("kind"),
      encode(col("text"), "UTF-8").as("media"))

  /** Batch decode over partitions: image payloads decode for REAL
    * ([[ImageCodec]] — bytes → pixels → dims/bands/pixel-checksum);
    * everything else takes the [[FakeDecoder]] stub path (`channels = 0`).
    * Dataset+mapPartitions so per-partition setup cost amortizes over the
    * batch — the Scala analogue of `mapInPandas`. */
  def decodeMeta(spark: SparkSession, media: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    media.as[MediaItem].mapPartitions { items =>
      items.map(m => ImageCodec.decode(m).getOrElse(FakeDecoder.decode(m)))
    }
  }

  /** STUB resize: deterministically truncates the payload to `maxBytes`
    * — the no-codec path for OPAQUE payloads (the real image path is
    * [[resizeImages]], which decodes, scales and re-encodes). */
  def resize(spark: SparkSession, media: DataFrame, maxBytes: Int): Dataset[MediaItem] = {
    import spark.implicits._
    media.as[MediaItem].mapPartitions { items =>
      // real impl: codec init once per partition, then per-item re-encode
      items.map(m =>
        if (m.media == null) m else m.copy(media = m.media.take(maxBytes)))
    }
  }

  /** REAL image resize — the standard vision-pipeline preprocess contract
    * (a pixel-dimension budget, as in CLIP/ViT ingest): payloads that
    * decode as images and exceed `maxDim` on either axis are bilinearly
    * scaled so max(width, height) == `maxDim` (aspect preserved, 1 px
    * floor) and re-encoded as PNG; smaller images and undecodable
    * payloads pass through UNCHANGED (never silently truncated — byte
    * truncation of a real container is corruption, not resizing).
    * Same mapPartitions batch shape as [[decodeMeta]]. */
  def resizeImages(spark: SparkSession, media: DataFrame,
      maxDim: Int): Dataset[MediaItem] = {
    import spark.implicits._
    require(maxDim >= 1, s"maxDim must be >= 1: $maxDim")
    media.as[MediaItem].mapPartitions { items =>
      items.map { m =>
        ImageCodec.readImage(m.media) match {
          case Some(img) if math.max(img.getWidth, img.getHeight) > maxDim =>
            val scale = maxDim.toDouble / math.max(img.getWidth, img.getHeight)
            val w = math.max(1, math.round(img.getWidth * scale).toInt)
            val h = math.max(1, math.round(img.getHeight * scale).toInt)
            val out = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, w, h, null)
            g.dispose()
            m.copy(media = ImageCodec.encodePng(out))
          case _ => m
        }
      }
    }
  }

  /** Synthesizes a REAL PNG payload per document — deterministic
    * dimensions from `doc_id` (width = 1 + doc_id % 16, height =
    * 1 + doc_id % 8) and a deterministic pixel pattern — so the
    * real-codec path has genuine image bytes to chew on even though the
    * driver corpus is text. The JDK PNG writer is deterministic, making
    * the payloads stable across runs/JVMs. */
  def synthesizePng(spark: SparkSession, documents: DataFrame): Dataset[MediaItem] =
    synthesizeMedia(spark, documents, 16L, 8L, jpeg = false)

  /** `q_media_decode`'s JPEG route uses DIFFERENT dimension moduli than
    * the PNG route (shared with the mirror), so the gate's arithmetic
    * distinguishes the two real codecs row-by-row. */
  val JpegWMod = 12L
  val JpegHMod = 6L

  /** Synthesized JPEG payloads (same pixel recipe, the JDK JPEG writer). */
  def synthesizeJpeg(spark: SparkSession, documents: DataFrame): Dataset[MediaItem] =
    synthesizeMedia(spark, documents, JpegWMod, JpegHMod, jpeg = true)

  private def synthesizeMedia(spark: SparkSession, documents: DataFrame,
      wMod: Long, hMod: Long, jpeg: Boolean): Dataset[MediaItem] = {
    import spark.implicits._
    // the codec loop is CPU-bound per row, and a small single-file scan
    // yields ONE partition — repartition the 8-byte id column so encode
    // (and every downstream decode) spreads across the cluster (the
    // q_winnowing file-granularity lesson, applied to lineage)
    documents.select(col("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .as[Long].mapPartitions { ids =>
      ids.map { id =>
        // floorMod: a negative doc_id must still yield positive dims (a
        // plain % would hand BufferedImage a non-positive dimension)
        val w = 1 + java.lang.Math.floorMod(id, wMod).toInt
        val h = 1 + java.lang.Math.floorMod(id, hMod).toInt
        // the pixel seed is the id MASKED to 24 bits (floorMod — both
        // engines): a raw doc_id multiply would overflow DuckDB's BIGINT
        // loudly for |doc_id| ≳ 3.5e9 while Scala wraps silently; the
        // masked seed keeps the product ≤ 2^24 · 2654435761 ≈ 4.5e16,
        // far inside int64 in BOTH engines
        val seed = java.lang.Math.floorMod(id, 1L << 24)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y,
              ((seed * 2654435761L + x * 31 + y) & 0xFFFFFF).toInt)
            x += 1
          }
          y += 1
        }
        MediaItem(id, "image",
          if (jpeg) ImageCodec.encodeJpeg(img) else ImageCodec.encodePng(img))
      }
    }
  }

  /** The real-codec round trip as a GATED query: synthesize a PNG per doc
    * ([[synthesizePng]]), decode it back through `javax.imageio`
    * ([[decodeMeta]]), and report the decoded dimensions/bands. The
    * oracle mirror recomputes the dimension arithmetic directly from
    * `doc_id` — a hash match certifies the encode → decode identity on
    * every row (the codec-dependent container size and pixel checksum
    * stay out of the gated projection by design). */
  def decodeRealRoundTrip(spark: SparkSession, documents: DataFrame): DataFrame =
    decodeMeta(spark, synthesizePng(spark, documents).toDF())
      .toDF()
      .select(col("doc_id"),
        col("width").cast(LongType).as("width"),
        col("height").cast(LongType).as("height"),
        col("channels").cast(LongType).as("channels"))
      .orderBy("doc_id")

  /** MIXED-payload decode as a GATED query — the production shape of a
    * multimodal corpus, where some payloads decode and some don't: every
    * `doc_id % 3 == 0` doc carries a real synthesized PNG
    * ([[synthesizePng]]), every `% 3 == 1` doc a real synthesized JPEG
    * ([[synthesizeJpeg]] — a SECOND real codec with its own dimension
    * moduli, so the mirror's arithmetic distinguishes the routes), the
    * rest the text-bytes stand-in ([[attachMedia]]), and [[decodeMeta]]
    * routes each through the magic-byte sniff — PNG/JPEG through the REAL
    * `javax.imageio` codecs, the rest through the [[FakeDecoder]] fallback
    * (`channels = 0` marks them). The gated projection keeps only fields
    * both engines can recompute: real rows' dims derive from `doc_id`
    * arithmetic (JPEG preserves dimensions and band count exactly even
    * though its pixels are lossy — pixel-exact certificates stay
    * PNG-only, see [[averageHash]]), fallback rows' dims from the payload
    * byte length — codec-dependent container sizes and pixel checksums
    * stay out. The hash match therefore certifies the ROUTING (sniff +
    * two real codecs + fallback split) row-by-row. */
  def decodeMixed(spark: SparkSession, documents: DataFrame): DataFrame = {
    val png = synthesizePng(spark,
      documents.filter(pmod(col("doc_id"), lit(3)) === 0)).toDF()
    val jpg = synthesizeJpeg(spark,
      documents.filter(pmod(col("doc_id"), lit(3)) === 1)).toDF()
    val txt = attachMedia(
      documents.filter(pmod(col("doc_id"), lit(3)) === 2))
    decodeMeta(spark, png.unionByName(jpg).unionByName(txt))
      .toDF()
      .select(col("doc_id"),
        col("width").cast(LongType).as("width"),
        col("height").cast(LongType).as("height"),
        col("channels").cast(LongType).as("channels"))
      .orderBy("doc_id")
  }

  /** One [[averageHash]] row. */
  final case class MediaHash(doc_id: Long, n_px: Long, mean_luma: Long,
      n_above: Long, ahash: Long)

  /** [[averageHash]] bit budget — capped below the BIGINT sign bit so
    * both engines pack bits in plain non-negative arithmetic
    * (Σ of distinct powers of two ≡ bitwise OR). */
  val AHashBits = 60

  /** Perceptual average-hash over the REAL decode path — and a
    * PIXEL-EXACT codec certificate: synthesize a PNG per doc
    * ([[synthesizePng]] — every pixel is pure `doc_id` arithmetic),
    * decode it back through `javax.imageio`, and compute from the
    * DECODED raster the per-mille integer luma (299r + 587g + 114b),
    * the truncating-mean threshold, the above-mean count, and the
    * packed aHash over the first [[AHashBits]] row-major pixels
    * (bit i set iff luma(i) > mean, i = y·w + x). The mirror recomputes
    * the identical integers from the id arithmetic alone, so the hash
    * match certifies the PNG encode → decode round trip BIT-FOR-BIT per
    * pixel — strictly stronger than [[decodeRealRoundTrip]]'s dims-only
    * identity (PNG RGB is lossless by spec; this proves the JVM's
    * implementation honors that on every row). All integer ops: the
    * mean uses truncating division on non-negative longs (Spark `div` ≡
    * DuckDB `//`), and the luma sum of ≤ 16×8 pixels stays far inside
    * int64. mapPartitions is the justified codec shape (no Catalyst
    * expression decodes PNG). */
  def averageHash(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    synthesizePng(spark, documents).mapPartitions { items =>
      items.flatMap { item =>
        ImageCodec.readImage(item.media).map { img =>
          val w = img.getWidth
          val h = img.getHeight
          val lumas = new Array[Long](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = img.getRGB(x, y)
              lumas(y * w + x) = 299L * ((v >> 16) & 255) +
                587L * ((v >> 8) & 255) + 114L * (v & 255)
              x += 1
            }
            y += 1
          }
          val n = lumas.length.toLong
          val mean = lumas.sum / n
          var above = 0L
          var hash = 0L
          var i = 0
          while (i < lumas.length) {
            if (lumas(i) > mean) {
              above += 1
              if (i < AHashBits) hash |= 1L << i
            }
            i += 1
          }
          MediaHash(item.doc_id, n, mean, above, hash)
        }
      }
    }.toDF().orderBy("doc_id")
  }

  /** [[mediaNearDups]] constants, shared with the generated mirror.
    * Near-dups are planted every [[NearDupPlantMod]]-th doc (the corpus
    * generators' dup cadence): the planted doc re-paints its
    * PREDECESSOR's image (same dims, same seed) with pixel (0, 0)
    * forced to white — a perceptual near-duplicate whose exact Hamming
    * distance both engines recompute from the id arithmetic. The 60-bit
    * aHash splits into [[NearDupBands]] bands of [[NearDupBandBits]]
    * bits; by pigeonhole any pair within Hamming radius
    * [[NearDupRadius]] = bands − 1 agrees on SOME band, so the banded
    * equi-join is a LOSSLESS candidate generator for that radius and
    * the whole operator rides the hash gate against a naive quadratic
    * popcount mirror (the q_zorder_prune discipline: the hash match IS
    * the pruning-losslessness certificate). */
  val NearDupPlantMod = 33L
  val NearDupBands = 4
  val NearDupBandBits: Int = AHashBits / NearDupBands
  val NearDupRadius: Int = NearDupBands - 1

  /** One [[mediaNearDups]] hash row (dims kept for the same-shape pair
    * universe). */
  final case class MediaDimHash(doc_id: Long, w: Int, h: Int, n_px: Long,
      ahash: Long)

  /** [[synthesizePng]] with planted near-duplicates: every
    * `floorMod(doc_id, NearDupPlantMod) == 1` doc (id > 0) paints its
    * predecessor's image — predecessor dims, predecessor seed — with
    * pixel (0, 0) INVERTED (RGB xor 0xFFFFFF, the photographic
    * negative of one pixel). The perturbation shifts the luma mean by
    * at most one pixel's luma delta over n_px, so the decoded aHash
    * lands a FEW bits from the predecessor's (measured on the sf0.01
    * ids: distances {0, 1, 3}, all inside [[NearDupRadius]] — a
    * stronger override like solid white pushed most planted pairs PAST
    * the radius on these ramp-structured rasters) — a genuine
    * near-duplicate, not an exact copy. */
  def synthesizeNearDupPng(spark: SparkSession,
      documents: DataFrame): Dataset[MediaItem] = {
    import spark.implicits._
    documents.select(col("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .as[Long].mapPartitions { ids =>
      ids.map { id =>
        val planted =
          java.lang.Math.floorMod(id, NearDupPlantMod) == 1L && id > 0
        val base = if (planted) id - 1 else id
        val w = 1 + java.lang.Math.floorMod(base, 16L).toInt
        val h = 1 + java.lang.Math.floorMod(base, 8L).toInt
        val seed = java.lang.Math.floorMod(base, 1L << 24)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y,
              ((seed * 2654435761L + x * 31 + y) & 0xFFFFFF).toInt)
            x += 1
          }
          y += 1
        }
        if (planted)
          img.setRGB(0, 0, (img.getRGB(0, 0) & 0xFFFFFF) ^ 0xFFFFFF)
        MediaItem(id, "image", ImageCodec.encodePng(img))
      }
    }
  }

  /** Decoded-raster aHash with dims, over any media frame — the
    * [[averageHash]] kernel factored out so [[mediaNearDups]] can hash
    * the planted-near-dup corpus. Rows that do not decode as images are
    * dropped (parity with [[averageHash]]). */
  def averageHashDims(spark: SparkSession,
      media: Dataset[MediaItem]): Dataset[MediaDimHash] = {
    import spark.implicits._
    media.mapPartitions { items =>
      items.flatMap { item =>
        ImageCodec.readImage(item.media).map { img =>
          val w = img.getWidth
          val h = img.getHeight
          val lumas = new Array[Long](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = img.getRGB(x, y)
              lumas(y * w + x) = 299L * ((v >> 16) & 255) +
                587L * ((v >> 8) & 255) + 114L * (v & 255)
              x += 1
            }
            y += 1
          }
          val mean = lumas.sum / lumas.length.toLong
          var hash = 0L
          var i = 0
          while (i < lumas.length) {
            if (lumas(i) > mean && i < AHashBits) hash |= 1L << i
            i += 1
          }
          MediaDimHash(item.doc_id, w, h, lumas.length.toLong, hash)
        }
      }
    }
  }

  /** `q_media_neardups`: image near-duplicate detection over perceptual
    * hashes — the first dedup pass of a 100 TB image-text pipeline
    * (VERDICT r16 #2). Pipeline: synthesize the planted-near-dup PNG
    * corpus ([[synthesizeNearDupPng]]), decode every payload through the
    * REAL `javax.imageio` codec and aHash the raster
    * ([[averageHashDims]]), split each hash into [[NearDupBands]] bands,
    * equi-join candidates on (w, h, band_idx, band_value) — BUCKETED,
    * never all-pairs: the `q_simhash_neardups` banding shape on pixel
    * hashes — and verify candidates with an exact `popcount(xor)` ≤
    * [[NearDupRadius]]. Pigeonhole makes the banded candidate set
    * LOSSLESS at that radius, so the output is the EXACT radius-bounded
    * pair inventory and hash-gates against a naive quadratic mirror that
    * recomputes every hash from the id arithmetic (the pixel-exact
    * q_media_ahash machinery plus the planted override).
    *
    * The pair universe is images of IDENTICAL dims with ≥ [[AHashBits]]
    * pixels: a production pipeline aHashes a fixed 8×8 downscale (dims
    * always equal, 64 bits always populated); on this variable-dim
    * synthetic corpus the filter models that normalization — a sub-60-px
    * hash space would degenerately collide (every 1×1 image hashes to
    * 0).
    *
    * Scale (r17, re-shaped after the first SCALING measurement read
    * sh r30 = 503×): band over DISTINCT hashes, never over docs. A
    * perceptual-hash corpus concentrates — identical images, and
    * near-identical ones whose quantized bit pattern coincides, collapse
    * to ONE (w, h, ahash) value (measured on the synthetic 30× corpus:
    * 46,875 images → 413 distinct hashes, largest identical-hash class
    * 1,150 docs) — so banding doc rows pays |class|² candidate rows per
    * bucket for pairs whose verification is ONE popcount (measured
    * 100.5M candidate rows where the distinct-hash banding generates
    * 1,518). The shape here: (1) collapse to distinct (w, h, ahash)
    * representatives (one linear exchange of a 4-long frame); (2) banded
    * equi-join on (w, h, band_idx, band_value) over representatives
    * only; (3) ONE exact popcount per distinct-hash pair; (4) expand
    * verified hash pairs back to doc pairs through two class-membership
    * equi-joins (cross-class pairs), plus the within-class self-join for
    * same-hash pairs (Hamming 0). Every doc pair derives from exactly
    * one hash pair, so the expansion needs no dedup. What remains
    * super-linear is the OUTPUT itself: pair inventories are
    * semantically quadratic in duplicate density (a k-member
    * identical-hash class owes k(k−1)/2 pairs) — the r13 interval
    * lesson. This entry exists to certify banding losslessness on the
    * hash gate; the scale DELIVERABLE over a dup-dense corpus is the
    * class-level report ([[mediaDupClasses]]), which stays
    * distinct-hash-sized. */
  def mediaNearDups(spark: SparkSession, documents: DataFrame): DataFrame = {
    val hs = hashFrame(spark, documents)
    val cand = nearDupHashPairs(hs)
    // expansion: class membership on each side; every (doc_a, doc_b)
    // pair has exactly one (ha, hb) hash pair, so no distinct is needed
    val cross = cand
      .join(hs.select(col("w"), col("h"), col("ahash").as("ha"),
        col("doc_id").as("id_a")), Seq("w", "h", "ha"))
      .join(hs.select(col("w"), col("h"), col("ahash").as("hb"),
        col("doc_id").as("id_b")), Seq("w", "h", "hb"))
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("hamming"))
    val within = hs.select(col("w"), col("h"), col("ahash"),
        col("doc_id").as("doc_a"))
      .join(hs.select(col("w"), col("h"), col("ahash"),
        col("doc_id").as("doc_b")), Seq("w", "h", "ahash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(0L).as("hamming"))
    cross.union(within).orderBy("doc_a", "doc_b")
  }

  /** Qualifying (doc_id, w, h, ahash) frame shared by the near-dup
    * routes: real-codec aHash over the planted corpus, restricted to the
    * ≥ [[AHashBits]]-pixel universe, checkpointed (the codec pass runs
    * once). The distinct collapses duplicate doc_id ROWS (a fuzz-frame
    * class — the hash is a deterministic function of doc_id, so
    * duplicates are identical rows): the mirrors GROUP BY doc_id, and
    * without it the membership-expansion joins would emit duplicate
    * pairs where the old candidate-distinct route deduped them.
    *
    * The repartition after the distinct is LOAD-BEARING (the r12
    * file-granularity lesson in checkpoint form): AQE coalesces the
    * distinct's output to ~1 partition (the hash frame is ~1.5 MB at
    * 30×), the localCheckpoint PINS that layout, and every downstream
    * broadcast-join probe — the whole pair enumeration and the sort's
    * sample pass — then runs on ONE core (measured: 67 s vs 7 s at 30×
    * for the identical plan, the single difference being the
    * checkpoint's partition count). */
  private def hashFrame(spark: SparkSession,
      documents: DataFrame): DataFrame =
    averageHashDims(spark, synthesizeNearDupPng(spark, documents))
      .toDF()
      .filter(col("n_px") >= AHashBits)
      .select(col("doc_id"), col("w"), col("h"), col("ahash"))
      .distinct()
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint()

  /** Verified near-dup DISTINCT-hash pairs `(w, h, ha, hb, hamming)`
    * with `ha < hb`, `0 < hamming ≤ [[NearDupRadius]]`: banded
    * candidates over the distinct (w, h, ahash) representatives, exact
    * popcount verify. Lossless at the radius by pigeonhole — two hashes
    * within Hamming [[NearDupRadius]] = bands − 1 agree on some band. */
  private def nearDupHashPairs(hs: DataFrame): DataFrame = {
    val reps = hs.select(col("w"), col("h"), col("ahash")).distinct()
    val bandVals = array((0 until NearDupBands).map(k =>
      shiftright(col("ahash"), k * NearDupBandBits)
        .bitwiseAND(lit((1L << NearDupBandBits) - 1L))): _*)
    val bands = reps.select(col("w"), col("h"), col("ahash"),
      posexplode(bandVals).as(Seq("band_idx", "band_val")))
    val l = bands.select(col("w"), col("h"), col("band_idx"),
      col("band_val"), col("ahash").as("ha"))
    val r = bands.select(col("w"), col("h"), col("band_idx"),
      col("band_val"), col("ahash").as("hb"))
    l.join(r, Seq("w", "h", "band_idx", "band_val"))
      .filter(col("ha") < col("hb"))
      .select(col("w"), col("h"), col("ha"), col("hb"))
      .distinct()
      .select(col("w"), col("h"), col("ha"), col("hb"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast(LongType)
          .as("hamming"))
      .filter(col("hamming") <= NearDupRadius)
  }

  /** `q_media_dup_classes`: the class-level image-dedup report — the
    * deliverable that stays SMALL on a duplicate-dense corpus where the
    * pair inventory ([[mediaNearDups]]) is semantically quadratic. One
    * row per identical-hash class (w, h, ahash): member count, keeper
    * (min doc_id — the survivorship rule), and the class's near-dup
    * NEIGHBORHOOD at [[NearDupRadius]] (how many OTHER classes sit
    * within the radius, and how many docs they carry) — exactly what a
    * 100 TB dedup pass feeds its keeper-selection / cluster stage.
    * Everything is distinct-hash-sized after one linear aggregate over
    * the hash frame; the banded candidate machinery is shared with the
    * pair route ([[nearDupHashPairs]]), so the same pigeonhole makes the
    * neighborhood counts exact. Hash-gates against a mirror that
    * recomputes classes from the id arithmetic and the neighborhood from
    * a naive distinct-hash popcount self-join. */
  def mediaDupClasses(spark: SparkSession, documents: DataFrame): DataFrame = {
    val hs = hashFrame(spark, documents)
    val classes = hs.groupBy(col("w"), col("h"), col("ahash"))
      .agg(count(lit(1)).as("class_size"), min(col("doc_id")).as("keeper"))
      .localCheckpoint()
    // symmetric neighbor edges from the verified hash pairs (classes
    // already carries one row per (w, h, ahash) — the inner distinct is
    // a no-op on it)
    val pairs = nearDupHashPairs(classes)
    val edges = pairs.select(col("w"), col("h"), col("ha").as("ahash"),
        col("hb").as("nb"))
      .union(pairs.select(col("w"), col("h"), col("hb").as("ahash"),
        col("ha").as("nb")))
    val nbStats = edges
      .join(classes.select(col("w"), col("h"), col("ahash").as("nb"),
        col("class_size").as("nb_size")), Seq("w", "h", "nb"))
      .groupBy(col("w"), col("h"), col("ahash"))
      .agg(count(lit(1)).as("n_near_classes"),
        sum(col("nb_size")).as("n_near_docs"))
    classes.join(nbStats, Seq("w", "h", "ahash"), "left")
      .select(col("w").cast(LongType).as("w"),
        col("h").cast(LongType).as("h"), col("ahash"),
        col("class_size"), col("keeper"),
        coalesce(col("n_near_classes"), lit(0L)).as("n_near_classes"),
        coalesce(col("n_near_docs"), lit(0L)).as("n_near_docs"))
      .orderBy("w", "h", "ahash")
  }

  /** Frame row emitted by [[sampleFrames]]. */
  final case class Frame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Default frames-per-payload for the query entry — shared with the
    * oracle mirror's generate_series bound. */
  val DefaultFrames = 4

  /** STUB frame sampling: splits the payload into `n` evenly-spaced chunks
    * (a real impl seeks keyframes). One input row fans out to n rows — the
    * video-to-training-examples shape; downstream repartitioning should key
    * on (doc_id, frame_idx). */
  def sampleFrames(spark: SparkSession, media: DataFrame, n: Int): Dataset[Frame] = {
    import spark.implicits._
    media.as[MediaItem].flatMap { m =>
      val len = if (m.media == null) 0 else m.media.length
      if (len == 0) Iterator.empty
      else (0 until n).iterator.map { i =>
        val from = (len.toLong * i / n).toInt
        val until = (len.toLong * (i + 1) / n).toInt
        Frame(m.doc_id, i, java.util.Arrays.copyOfRange(m.media, from, until))
      }
    }
  }

  /** Repartitions a media frame so each partition holds ≈ `targetBytes` of
    * payload — row counts are the wrong unit when payloads span 1 KB to
    * 1 GB. One cheap stats pass sizes the partition count; hash
    * distribution on the id column spreads rows. (With extreme per-row
    * variance, range-partition on cumulative bytes instead.) */
  def repartitionByBytes(media: DataFrame, idCol: String,
      byteCol: String, targetBytes: Long): DataFrame = {
    val total = media.agg(coalesce(sum(col(byteCol)), lit(0L)))
      .head().getLong(0)
    val parts = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    media.repartition(parts, col(idCol))
  }

  /** Metadata-only projection computed declaratively (no decode): byte
    * size per payload — the query pattern that must prune the binary column
    * at scan time when metadata is materialized columnar. */
  def mediaByteStats(documents: DataFrame): DataFrame =
    attachMedia(documents)
      .select(col("doc_id"), col("kind"),
        octet_length(col("media")).cast(LongType).as("n_bytes"))
      .orderBy("doc_id")
}
