package graft.operators

import java.io.ByteArrayInputStream
import java.nio.{ByteBuffer, ByteOrder}

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column operators (north-star extensions): media as opaque
  * `binary` payloads with typed metadata, decoded/feature-extracted in
  * batches with a REAL image decoder (javax.imageio — ships with the
  * JDK, no external codec needed for BMP/PNG).
  *
  * Oracle strategy: the fixture generator writes each document a
  * deterministic 16×16 grayscale BMP whose pixel levels are pure
  * arithmetic of (pixel index, media_id, text length). The pipeline then
  * round-trips those bytes through an ACTUAL ImageIO decode and derives
  * features from the decoded raster — while the DuckDB oracle computes
  * the same features from the generating arithmetic alone. A hash match
  * therefore certifies the real encode→decode path bit-for-bit, not a
  * stubbed stand-in.
  *
  * Scale shape: payloads live in parquet as binary chunks; encode and
  * decode are narrow per-partition passes (no shuffle), parallel by file
  * split. The mapPartitions boundary is where a heavier codec would
  * amortize per-task decoder initialization.
  */
object Multimodal {

  // ImageIO's stream factories default to a DISK-backed cache: every
  // createImageInputStream/createImageOutputStream call creates a temp
  // file and deletes it on close — two filesystem-metadata syscalls per
  // ROW on the codec hot path. Thread dumps of a 32-thread mm_* bench
  // (r15) showed 149/160 sampled executor frames inside
  // UnixFileSystem.delete0 / UnixNativeDispatcher.open0: the decode
  // work was syscall-bound, not pixel-bound (mm_png ~140 s cpu vs the
  // ~12 s the pixels cost). Memory-cached streams are strictly right
  // here — payloads are small in-heap byte arrays already — and at
  // scale a per-row temp file per executor thread is an anti-pattern
  // no matter how fast the local filesystem is.
  javax.imageio.ImageIO.setUseCache(false)

  /** Highest doc_id of the documents table under `dir`, for the
    * profiled-range guards of the lossy-survival audits. -1 on an
    * EMPTY corpus (max aggregates to NULL — getLong would NPE, r17
    * ADVICE #4), which trivially passes every profiled-range check
    * and yields the correct empty audit. Memoized per state of the
    * documents file in `StoreMemo`: the guard otherwise costs one extra
    * driver job per audit invocation.
    */
  private[graft] def maxDocId(s: SparkSession, dir: String): Long = {
    val src = s"$dir/documents.parquet"
    graft.store.StoreMemo.get(s, s"max-doc-id:$src", Seq(src)) {
      val row = Tables.documents(s, dir).agg(max(col("doc_id"))).head()
      if (row.isNullAt(0)) -1L else row.getLong(0)
    }
  }

  /** A media row: opaque payload + typed metadata (the Spark-side model
    * of an image/audio/video column).
    */
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  /** Features extracted from the DECODED raster. */
  case class MediaFeatures(media_id: Long, kind: String, byte_len: Long,
      width: Int, height: Int, mean_luma: Double)

  /** Fixture image side; 16×16 @ 24bpp ⇒ 48-byte rows (4-aligned, no
    * padding) ⇒ byte_len = 54 header + 768 data = 822, always.
    */
  val Side = 16
  val BmpBytes: Int = 54 + Side * Side * 3

  /** Deterministic grayscale BMP: pixel i (row-major, top-left origin)
    * has level (i·37 + media_id·11 + contentLen) mod 256. Handwritten
    * BITMAPINFOHEADER so the layout is fixed rather than
    * writer-dependent; rows are stored bottom-up per the format.
    */
  def encodeBmp(mediaId: Long, contentLen: Long): Array[Byte] = {
    val b = ByteBuffer.allocate(BmpBytes).order(ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
      .putInt(BmpBytes).putInt(0).putInt(54)            // file header
    b.putInt(40).putInt(Side).putInt(Side)              // BITMAPINFOHEADER
      .putShort(1).putShort(24)
      .putInt(0).putInt(Side * Side * 3)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = Side - 1                                    // bottom-up rows
    while (y >= 0) {
      var x = 0
      while (x < Side) {
        val i = y * Side + x
        val g = (((i * 37 + mediaId * 11 + contentLen) % 256) + 256) % 256
        val gb = g.toByte
        b.put(gb).put(gb).put(gb)                       // BGR, gray
        x += 1
      }
      y -= 1
    }
    b.array()
  }

  /** REAL decode: ImageIO parses the payload into a raster; features are
    * computed from decoded pixels. mean_luma = Σ gray / (255·w·h) with an
    * exact integer sum, so the value is order-independent and the single
    * final IEEE division matches any engine computing the same integers.
    */
  def decodeImage(m: MediaRow): MediaFeatures = {
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(m.payload))
    require(img != null, s"payload of media ${m.media_id} is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { sum += (img.getRGB(x, y) & 0xff); x += 1 }
      y += 1
    }
    MediaFeatures(m.media_id, m.kind, m.payload.length.toLong, w, h,
      sum.toDouble / (255.0 * w * h))
  }

  /** Per-partition batch decode (where a heavier codec amortizes its
    * per-task init).
    */
  def decodeAll(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(decodeImage))
  }

  /** Documents as media: render each doc's fixture BMP, decode it for
    * real, and emit raster-derived features. The oracle recomputes
    * mean_luma from the generating arithmetic — matching hashes prove the
    * decode.
    */
  def mmFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.Par.spread(Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast(LongType).as("clen")))
      .as[(Long, Long)]
      .map { case (id, clen) => MediaRow(id, "image/bmp", encodeBmp(id, clen)) }
    decodeAll(media)
      .select(col("media_id"), col("byte_len"), col("width"), col("height"),
        col("mean_luma"))
      .orderBy(col("media_id"))
  }

  /** Box-average resize of a DECODED raster: output pixel (X, Y) is the
    * integer mean (floor) of its factor×factor source block's gray
    * levels. Integer sums → the result is engine-independent, so the
    * oracle can recompute it from the fixture arithmetic while the
    * pipeline computes it from actually-decoded pixels.
    */
  def resizeBoxPixels(img: java.awt.image.BufferedImage, factor: Int): Array[Long] = {
    val w = img.getWidth / factor
    val h = img.getHeight / factor
    val out = new Array[Long](w * h)
    var yy = 0
    while (yy < h) {
      var xx = 0
      while (xx < w) {
        var sum = 0L
        var dy = 0
        while (dy < factor) {
          var dx = 0
          while (dx < factor) {
            sum += (img.getRGB(xx * factor + dx, yy * factor + dy) & 0xff)
            dx += 1
          }
          dy += 1
        }
        out(yy * w + xx) = sum / (factor.toLong * factor)
        xx += 1
      }
      yy += 1
    }
    out
  }

  case class ResizedMedia(media_id: Long, width: Int, height: Int,
      px_csv: String, mean_luma: Double)

  /** Resize operator: encode → REAL decode → box-average downsample
    * 16×16 → 4×4. Emits the resized pixel levels (joined as a string so
    * the hash compare is scalar) and the resized-raster mean luma from
    * an exact integer sum. Same narrow mapPartitions shape as decode.
    */
  def mmResize(s: SparkSession, dir: String, factor: Int = 4): DataFrame = {
    import s.implicits._
    graft.Par.spread(Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast(LongType).as("clen")))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, clen) =>
        val img = javax.imageio.ImageIO.read(
          new ByteArrayInputStream(encodeBmp(id, clen)))
        val px = resizeBoxPixels(img, factor)
        val side = Side / factor
        ResizedMedia(id, side, side, px.mkString("-"),
          px.sum.toDouble / (255.0 * px.length))
      })
      .toDF()
      .orderBy(col("media_id"))
  }

  /** Fixture "video": nFrames concatenated BMPs; frame f's pixel i has
    * level (i·37 + media_id·11 + contentLen + f·53) mod 256 (frame 0 ≡
    * the still fixture).
    */
  def encodeVideo(mediaId: Long, contentLen: Long, nFrames: Int): Array[Byte] = {
    val out = new Array[Byte](BmpBytes * nFrames)
    var f = 0
    while (f < nFrames) {
      System.arraycopy(encodeBmp(mediaId, contentLen + f * 53L), 0,
        out, f * BmpBytes, BmpBytes)
      f += 1
    }
    out
  }

  case class FrameFeatures(media_id: Long, frame_idx: Long, byte_len: Long,
      mean_luma: Double)

  /** Frame sampling: slice every `stride`-th frame out of the packed
    * payload and decode IT alone — the video analog of a thumbnail
    * extractor (decode cost ∝ sampled frames, not stored frames). Each
    * sampled frame goes through the real ImageIO decode.
    */
  def sampleFrames(m: MediaRow, stride: Int): Iterator[FrameFeatures] = {
    val nFrames = m.payload.length / BmpBytes
    (0 until nFrames by stride).iterator.map { f =>
      val bytes = java.util.Arrays.copyOfRange(
        m.payload, f * BmpBytes, (f + 1) * BmpBytes)
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
      require(img != null, s"frame $f of media ${m.media_id} is not decodable")
      var sum = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) { sum += (img.getRGB(x, y) & 0xff); x += 1 }
        y += 1
      }
      FrameFeatures(m.media_id, f.toLong, BmpBytes.toLong,
        sum.toDouble / (255.0 * img.getWidth * img.getHeight))
    }
  }

  /** Frame-sample operator over the 6-frame fixture videos, stride 2
    * (frames 0, 2, 4). The oracle recomputes each sampled frame's luma
    * from the generating arithmetic — matching hashes certify the
    * slice + per-frame decode.
    */
  def mmFrames(s: SparkSession, dir: String, nFrames: Int = 6,
      stride: Int = 2): DataFrame = {
    import s.implicits._
    graft.Par.spread(Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast(LongType).as("clen")))
      .as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, clen) =>
        sampleFrames(MediaRow(id, "video/x-fixture",
          encodeVideo(id, clen, nFrames)), stride)
      })
      .toDF()
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** The fixture raster as a grayscale BufferedImage — the pre-encode
    * ground truth both real-codec families (PNG lossless, JPEG lossy)
    * encode from, same pixel arithmetic as the BMP fixture.
    */
  def fixtureRaster(mediaId: Long,
      contentLen: Long): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(Side, Side,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var i = 0
    while (i < Side * Side) {
      val g = (((i * 37 + mediaId * 11 + contentLen) % 256) + 256) % 256
      r.setSample(i % Side, i / Side, 0, g.toInt)
      i += 1
    }
    img
  }

  /** Raw raster sample sum — `getRaster.getSample`, NOT `getRGB`: the
    * RGB accessor routes grayscale through a colorspace conversion
    * whose gamma step would destroy the exact-integer contract.
    */
  def rasterSum(img: java.awt.image.BufferedImage): Long = {
    val r = img.getRaster
    var sum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) { sum += r.getSample(x, y, 0); x += 1 }
      y += 1
    }
    sum
  }

  /** Real PNG encode of the fixture raster, through a format-PINNED
    * direct writer — not the `ImageIO.write` convenience static, for
    * the same reason the decoders are pinned (see decodePngDirect's
    * scaladoc): the write static funnels every format through one
    * shared provider-iterator + `writer.write` chain, so a session
    * writing several formats (mm_png and mm_gif in one bench) drives
    * those sites megamorphic exactly like the read static did — the
    * residual mm_png/mm_gif run-to-run cpu noise of the r14 gate.
    * Same writer, same default params, so the bytes are identical to
    * the convenience path's; the certified quantities are the DECODED
    * raster's in any case, never the container's.
    */
  def encodePng(mediaId: Long, contentLen: Long): Array[Byte] =
    pngBytes(fixtureRaster(mediaId, contentLen))

  /** The pinned PNG writer applied to an arbitrary raster (shared by
    * the fixture family above and the phash fixture below — one
    * monomorphic write chain either way).
    */
  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try { w.setOutput(ios); w.write(img) }
    finally { w.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Real JPEG encode at an explicit quality (deterministic writer
    * parameters; the default-quality path would still decode, but
    * pinning quality keeps the loss band stable across JDK updates).
    */
  def encodeJpeg(mediaId: Long, contentLen: Long,
      quality: Float = 0.9f): Array[Byte] =
    jpegBytesOf(fixtureRaster(mediaId, contentLen), quality)

  /** The pinned JPEG writer applied to an arbitrary raster (shared by
    * the fixture family above and the phash lossy-survival operator).
    */
  def jpegBytesOf(img: java.awt.image.BufferedImage,
      quality: Float = 0.9f): Array[Byte] = {
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally { w.dispose(); ios.close() }
    bos.toByteArray
  }

  case class PngFeatures(media_id: Long, width: Int, height: Int,
      px_sum: Long, mean_luma: Double)

  /** Format-pinned decodes: a DIRECT reader per family instead of the
    * `ImageIO.read` convenience static. That static funnels every
    * format through one shared call-site chain (stream → provider
    * iterator → `reader.read`), so a session that has decoded several
    * formats drives those sites megamorphic and C2 settles the shared
    * path at a ~2× slower steady state — measured r12: warming all
    * three codec families before timing doubled per-family decode cpu
    * (mm_jpeg 12–17 s → 26–47 s process-cpu, flat gc/jit, zero
    * codegen), and the r11 gate pair's 1.5× min-cpu residue was the
    * transient between the mono- and megamorphic states. One method
    * per family — bodies deliberately NOT factored through a shared
    * helper, which would just recreate the single funnel — gives each
    * family's `reader.read(0)` a monomorphic call site of its own, so
    * per-family decode cost no longer depends on which other formats
    * the session has seen.
    */
  private def decodePngDirect(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val r = javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new ByteArrayInputStream(bytes))
    try { r.setInput(iis, true, true); r.read(0) }
    finally { r.dispose(); iis.close() }
  }

  private[graft] def decodeJpegDirect(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val r = javax.imageio.ImageIO.getImageReadersByFormatName("jpg").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new ByteArrayInputStream(bytes))
    // ImageIO.read reports undecodable data as null; the direct reader
    // throws — map it back so mmJpeg's decodes_ok contract holds. The
    // convenience static swallowed MORE than IIOException (corrupt
    // streams can surface as e.g. IndexOutOfBoundsException from the
    // JPEG reader internals), so any non-fatal decode failure lands in
    // the decodes_ok=false bucket rather than failing the task.
    try { r.setInput(iis, true, true); r.read(0) }
    catch { case scala.util.control.NonFatal(_) => null }
    finally { r.dispose(); iis.close() }
  }

  private def decodeGifDirect(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val r = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new ByteArrayInputStream(bytes))
    try { r.setInput(iis, true, true); r.read(0) }
    finally { r.dispose(); iis.close() }
  }

  /** Bench warm-up for the pinned codec paths (Bench.scala calls this
    * once per session, outside every timed window): run each requested
    * family's FULL production per-row path — fixture raster → the
    * family's pinned ENCODER → the family's pinned DECODER → the
    * family's own pixel loop — until C2 has seen all of it, so run 1
    * of the mm_* queries no longer pays interpreter→compiled
    * transitions inside its timed window. Warming only the decoder
    * (the r13/r14 version, one encode per family) left the encode
    * half — PNG filter+deflate, GIF palette+LZW, raster fill — cold,
    * and its C2 transitions landed in mm_png's run 1 on every gate
    * pair (the universal-residue signature, r14 verdict #3). Per-
    * family pinned writers/readers keep every warmed call site
    * monomorphic — NEVER the shared `ImageIO.read`/`ImageIO.write`
    * statics, whose funnel the r12 experiment matrix measured
    * settling ~2× slower once driven megamorphic.
    */
  // 20k iterations, not a few hundred: HotSpot's tier-4 (C2) thresholds
  // sit at ~5k-15k invocations, and a 256-iteration warm-up leaves the
  // codec paths at C1 — mm_png's run 1 then burns ~16 s of compiler
  // time inside its timed window when the query's 60k rows push
  // everything to C2 at once (measured r15; run 2/3 jit ≈ 2.8 s).
  // At Side=16 a warmed iteration is tens of µs, so the full warm-up
  // stays ~1-2 s per family, paid once outside every timed window.
  def warmDirectReaders(png: Boolean, jpeg: Boolean, gif: Boolean,
      iters: Int = 20000): Unit = {
    var sink = 0L
    if (png) {
      var i = 0
      while (i < iters) {
        sink += rasterSum(decodePngDirect(encodePng(7L, 1234L + i)))
        i += 1
      }
    }
    if (jpeg) {
      var i = 0
      while (i < iters) {
        val im = decodeJpegDirect(encodeJpeg(7L, 1234L + i))
        if (im != null) sink += rasterSum(im)
        i += 1
      }
    }
    if (gif) {
      var i = 0
      while (i < iters) {
        // getRGB loop, NOT the shared rasterSum: production feeds
        // rasterSum gray rasters only (png/jpeg), and summing the
        // GIF's IndexColorModel raster here would drive rasterSum's
        // getSample site megamorphic for the rest of the session —
        // measured as a bimodal 10 s vs 22 s mm_jpeg cpu depending on
        // whether C2 compiled rasterSum before or after this loop.
        // This mirrors mmGif's own per-pixel path exactly.
        val img = decodeGifDirect(encodeGif(7L, 1234L + i))
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) { sink += (img.getRGB(x, y) & 0xff); x += 1 }
          y += 1
        }
        i += 1
      }
    }
    // defeat dead-code elimination of the warm loops
    if (sink == Long.MinValue) System.err.println("[warm] impossible sink")
  }

  /** PNG operator — the first REAL-WORLD format family: encode the
    * fixture raster with the actual PNG writer, decode it back through
    * ImageIO, and emit exact-integer raster features. PNG round-trips
    * losslessly, so the oracle recomputes px_sum/mean_luma from the
    * generating arithmetic and the hash match certifies the full
    * encode→decode cycle bit-for-bit (byte_len is deliberately absent:
    * container bytes are writer-dependent, rasters are not).
    */
  def mmPng(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Par.spread(Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast(LongType).as("clen")))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, clen) =>
        val img = decodePngDirect(encodePng(id, clen))
        require(img != null, s"PNG payload of media $id failed to decode")
        val sum = rasterSum(img)
        PngFeatures(id, img.getWidth, img.getHeight, sum,
          sum.toDouble / (255.0 * img.getWidth * img.getHeight))
      })
      .toDF()
      .orderBy(col("media_id"))
  }

  /** Real GIF encode of the fixture raster — the PALETTE-based family:
    * the 256-level gray raster exactly fills GIF's 256-color palette,
    * so the round-trip is lossless and the raster certifies exactly
    * like PNG. Decoded pixels read through `getRGB` (an IndexColorModel
    * stores literal sRGB palette entries — no colorspace conversion,
    * unlike TYPE_BYTE_GRAY's gamma path).
    */
  def encodeGif(mediaId: Long, contentLen: Long): Array[Byte] = {
    // format-pinned direct writer — see encodePng's scaladoc
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try { w.setOutput(ios); w.write(fixtureRaster(mediaId, contentLen)) }
    finally { w.dispose(); ios.close() }
    bos.toByteArray
  }

  def mmGif(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Par.spread(Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast(LongType).as("clen")))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, clen) =>
        val img = decodeGifDirect(encodeGif(id, clen))
        require(img != null, s"GIF payload of media $id failed to decode")
        var sum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            sum += (img.getRGB(x, y) & 0xff)
            x += 1
          }
          y += 1
        }
        PngFeatures(id, img.getWidth, img.getHeight, sum,
          sum.toDouble / (255.0 * img.getWidth * img.getHeight))
      })
      .toDF()
      .orderBy(col("media_id"))
  }

  case class JpegFeatures(media_id: Long, width: Int, height: Int,
      decodes_ok: Boolean, luma_in_band: Boolean)

  /** JPEG operator — the LOSSY real-world family: encode at quality
    * 0.9, decode back, and certify what lossy compression preserves —
    * exact dimensions, a successful decode, and mean luma within a
    * ±0.02 band of the pre-encode raster's exact value (DC coefficients
    * survive quantization; the fixture's high-frequency sawtooth is
    * JPEG's worst case, so the band is a real claim). The oracle emits
    * the expected invariants (TRUE rows) from the corpus — a hash match
    * means every document's payload decoded and landed in band.
    */
  def mmJpeg(s: SparkSession, dir: String, band: Double = 0.02): DataFrame = {
    import s.implicits._
    graft.Par.spread(Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast(LongType).as("clen")))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, clen) =>
        val img = decodeJpegDirect(encodeJpeg(id, clen))
        val ok = img != null
        val inBand = ok && {
          val dec = rasterSum(img).toDouble / (255.0 * img.getWidth * img.getHeight)
          val exact = rasterSum(fixtureRaster(id, clen)).toDouble /
            (255.0 * Side * Side)
          math.abs(dec - exact) <= band
        }
        JpegFeatures(id, if (ok) img.getWidth else -1,
          if (ok) img.getHeight else -1, ok, inBand)
      })
      .toDF()
      .orderBy(col("media_id"))
  }

  // ---- perceptual-hash image fingerprints (the multimodal × dedup
  // composition a 100 TB training pipeline runs BEFORE caption dedup:
  // near-identical images with different bytes — recompressed, mildly
  // retouched — collapse to nearby dHashes, and the banded Hamming
  // join finds them without an all-pairs scan).

  /** Offset/plant parameters of the phash fixture corpus: every doc
    * renders one block image; docs with `doc_id % 20 == 7` ALSO plant a
    * retouched copy at `doc_id + PhashPlantOffset` whose blocks 9 and
    * 41 are brightened by 40 gray levels. Two changed blocks flip at
    * most 4 dHash bits (each block participates in exactly two
    * adjacent-block comparisons), so every planted pair sits at
    * Hamming ≤ 4 — inside the detector's operating threshold — and
    * touches at most bands 0 and 2 of the 4×15 banding, so band
    * candidacy is GUARANTEED, not probabilistic.
    */
  val PhashPlantOffset = 1000000L
  val PhashPlantMod = 20L
  val PhashPlantRes = 7L
  val PhashPlantBlocks: Seq[Int] = Seq(9, 41)
  val PhashPlantBump = 40

  /** Block level k of doc `srcId`'s phash fixture image: the md5-backed
    * hash60 (the corpus-wide hash convention, mirrored in DuckDB as
    * `('0x' || substr(md5(…), 1, 15))::BIGINT`) mod 256. Content-hashed
    * blocks — unlike the sawtooth fixture above — make unrelated docs'
    * dHashes ~30 bits apart (each bit is an independent coin), so the
    * detector's matches are the planted retouches, not fixture
    * artifacts.
    */
  def phashBlockLevel(srcId: Long, k: Int, planted: Boolean): Int = {
    val base = (graft.functions.TextHash.hash60(s"phash|$srcId|$k") % 256L).toInt
    if (planted && PhashPlantBlocks.contains(k)) (base + PhashPlantBump) % 256
    else base
  }

  /** The phash fixture raster: 16×16 gray, an 8×8 grid of uniform
    * 2×2-pixel blocks at [[phashBlockLevel]] levels.
    */
  def phashRaster(srcId: Long, planted: Boolean): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(Side, Side,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var k = 0
    while (k < 64) {
      val lvl = phashBlockLevel(srcId, k, planted)
      val bx = (k % 8) * 2
      val by = (k / 8) * 2
      r.setSample(bx, by, 0, lvl); r.setSample(bx + 1, by, 0, lvl)
      r.setSample(bx, by + 1, 0, lvl); r.setSample(bx + 1, by + 1, 0, lvl)
      k += 1
    }
    img
  }

  /** 60-bit dHash of a DECODED raster: bit k is set iff block k's mean
    * gray exceeds block k+1's (row-major 8×8 block grid, blocks 0-60 —
    * 60 bits rather than the classic 64 so the fingerprint matches the
    * engine's 60-bit hash convention and every banded/summed form stays
    * inside positive signed-64 range in BOTH engines; DuckDB's BIGINT
    * sum of `1 << 63` would overflow). Block means are exact integer
    * division of a 4-sample sum, so lossless codecs round-trip the
    * fingerprint bit-for-bit.
    */
  def dhash60(img: java.awt.image.BufferedImage): Long = {
    val r = img.getRaster
    val lv = new Array[Int](61)
    var k = 0
    while (k < 61) {
      val bx = (k % 8) * 2
      val by = (k / 8) * 2
      lv(k) = (r.getSample(bx, by, 0) + r.getSample(bx + 1, by, 0) +
        r.getSample(bx, by + 1, 0) + r.getSample(bx + 1, by + 1, 0)) / 4
      k += 1
    }
    var fp = 0L
    k = 0
    while (k < 60) {
      if (lv(k) > lv(k + 1)) fp |= (1L << k)
      k += 1
    }
    fp
  }

  case class PhashRow(media_id: Long, src_doc_id: Long, planted: Boolean,
      phash60: Long)

  /** The phash fingerprint pass: corpus images (base + planted
    * retouches) → REAL PNG encode (pinned writer) → REAL decode
    * (pinned reader) → dHash from the DECODED raster. PNG is lossless,
    * so the oracle recomputes the same fingerprint from the generating
    * arithmetic — a hash match certifies codec round-trip AND
    * fingerprint math together. Same narrow mapPartitions codec
    * boundary as every mm_* family: no shuffle, parallel by split.
    */
  def mmPhashFingerprints(s: SparkSession, dir: String): DataFrame =
    phashFingerprintsOf(phashMediaCorpus(s, dir))

  /** The phash media corpus: one base image row per document plus the
    * planted retouched copies — (media_id, src_id, planted).
    */
  def phashMediaCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    docs
      .select(col("doc_id").as("media_id"), col("doc_id").as("src_id"),
        lit(false).as("planted"))
      .unionByName(docs
        .filter(col("doc_id") % PhashPlantMod === PhashPlantRes)
        .select((col("doc_id") + PhashPlantOffset).as("media_id"),
          col("doc_id").as("src_id"), lit(true).as("planted")))
  }

  /** The codec pass alone, over any (media_id, src_id, planted)
    * relation — shared by the one-shot fingerprint table and the
    * incremental sink (which fingerprints each DELIVERY's media only).
    */
  def phashFingerprintsOf(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    graft.Par.spread(media.select(col("media_id"), col("src_id"),
        col("planted")))
      .as[(Long, Long, Boolean)]
      .mapPartitions(_.map { case (mid, sid, pl) =>
        val img = decodePngDirect(pngBytes(phashRaster(sid, pl)))
        require(img != null, s"phash PNG of media $mid failed to decode")
        PhashRow(mid, sid, pl, dhash60(img))
      })
      .toDF()
  }

  case class PhashJpegRow(media_id: Long, within_threshold: Boolean,
      band_candidate: Boolean)

  /** LOSSY-SURVIVAL audit of the perceptual hash — the claim that makes
    * dHash *perceptual* rather than just content-derived: a JPEG-
    * recompressed copy of an image (same pixels, different bytes — the
    * most common duplicate modality on the web) must still land inside
    * the detector's operating threshold. For every doc: the base
    * fingerprint from the lossless PNG round-trip vs the fingerprint
    * of the SAME raster after a real JPEG quality-0.9 encode→decode
    * cycle; emits whether the pair sits at Hamming ≤ 4 (the detector's
    * verify threshold) and whether at least one 15-bit band survived
    * untouched (band candidacy — what guarantees the banded join would
    * SURFACE the pair). Measured over every id the testdata can
    * produce (tools/ProfilePhashJpeg, ids 0-4999): max flipped bits 3
    * at q=0.9 (mean 0.29), so both booleans are TRUE corpus-wide and
    * the oracle emits the invariants — the mm_jpeg certification
    * pattern. A hash match therefore certifies, through two REAL
    * codec cycles per row, that lossy recompression cannot hide a
    * duplicate from this detector on these corpora.
    */
  /** Highest synthetic id tools/ProfilePhashJpeg has swept (ids
    * 0-4999, every sf the driver generates: sf0.1's max doc_id is
    * 4999). The survival oracle asserts TRUE corpus-wide from that
    * measurement, so ids beyond it are UNPROFILED rasters where a
    * single >4-bit JPEG drift would fail the Verify hash even though
    * the operator behaves as designed (r16 ADVICE #3) — the guard
    * turns that silent oracle overreach into a loud instruction.
    */
  val PhashJpegProfiledMaxId = 4999L

  def mmPhashJpegSurvival(s: SparkSession, dir: String,
      quality: Float = 0.9f, maxHamming: Int = 4): DataFrame = {
    import s.implicits._
    val maxId = maxDocId(s, dir)
    require(maxId <= PhashJpegProfiledMaxId,
      s"dedup_phash_jpeg's corpus-wide survival claim is profiled for " +
        s"ids 0-$PhashJpegProfiledMaxId but this corpus reaches $maxId; " +
        s"run `sbt \"runMain graft.tools.ProfilePhashJpeg ${maxId + 1}\"` " +
        "and raise PhashJpegProfiledMaxId if maxHamming stays <= 4")
    graft.Par.spread(Tables.documents(s, dir).select(col("doc_id")))
      .as[Long]
      .mapPartitions(_.map { sid =>
        val raster = phashRaster(sid, planted = false)
        val base = dhash60(decodePngDirect(pngBytes(raster)))
        val jpeg = dhash60(decodeJpegDirect(jpegBytesOf(raster, quality)))
        val x = base ^ jpeg
        val ham = java.lang.Long.bitCount(x)
        val bandShared = (0 until 4).exists(b => ((x >> (b * 15)) & 32767L) == 0L)
        PhashJpegRow(sid, ham <= maxHamming, bandShared)
      })
      .toDF()
      .orderBy(col("media_id"))
  }

  // ---- video fingerprint fixtures (r16 verdict #4): the image
  // family's shape lifted one level. A video near-dup (re-encoded,
  // lightly retouched, possibly with replaced scenes) keeps MOST of
  // its sampled frames perceptually close to the original's — so the
  // detector fingerprints each SAMPLED frame (decode cost ∝ sampled
  // frames, not stored frames), runs the certified per-frame banded
  // Hamming join frame-aligned, and calls a pair a match iff ≥ k of
  // the sampled frames are band-mates within threshold (the frame
  // VOTE — one wholesale scene cut cannot hide the duplicate, and one
  // coincidentally-similar frame cannot fabricate one).

  /** Plant parameters of the video fixture corpus: every doc renders
    * one 6-frame clip; docs with `doc_id % 20 == 11` ALSO plant a
    * near-dup copy at `doc_id + VideoPlantOffset` whose every frame
    * carries the 2-block retouch (≤4 flipped bits per frame, bands 1
    * and 3 intact — the phash guarantee per frame) EXCEPT frame 4,
    * which is a full scene replacement (content-hashed afresh, ~30
    * bits away). Sampled frames are {0, 2, 4} (stride 2), so the
    * planted pair votes 2-of-3 — the vote threshold (2) is met
    * through the retouched frames while the scene cut exercises a
    * genuine non-matching frame.
    */
  val VideoPlantOffset = 1000000L
  val VideoPlantMod = 20L
  val VideoPlantRes = 11L
  val VidFrames = 6
  val VidStride = 2
  val VidCutFrame = 4
  val VidMinVote = 2

  /** Block level k of frame f of doc `srcId`'s video fixture — the
    * phash block arithmetic with the frame index mixed into the hash
    * (so frames are independent rasters), the same 2-block retouch on
    * planted copies, and a fresh hash salt on the planted cut frame.
    */
  def vidBlockLevel(srcId: Long, f: Int, k: Int, planted: Boolean): Int =
    if (planted && f == VidCutFrame)
      (graft.functions.TextHash.hash60(s"vidcut|$srcId|$f|$k") % 256L).toInt
    else {
      val base =
        (graft.functions.TextHash.hash60(s"vidfp|$srcId|$f|$k") % 256L).toInt
      if (planted && PhashPlantBlocks.contains(k)) (base + PhashPlantBump) % 256
      else base
    }

  /** Frame f as a raster: 16×16 gray, an 8×8 grid of uniform 2×2-pixel
    * blocks at [[vidBlockLevel]] levels (the phash raster geometry).
    */
  def vidFrameRaster(srcId: Long, f: Int,
      planted: Boolean): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(Side, Side,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var k = 0
    while (k < 64) {
      val lvl = vidBlockLevel(srcId, f, k, planted)
      val bx = (k % 8) * 2
      val by = (k / 8) * 2
      r.setSample(bx, by, 0, lvl); r.setSample(bx + 1, by, 0, lvl)
      r.setSample(bx, by + 1, 0, lvl); r.setSample(bx + 1, by + 1, 0, lvl)
      k += 1
    }
    img
  }

  /** An arbitrary gray raster as REAL BMP bytes (24-bit BGR, bottom-up
    * rows — the [[encodeBmp]] container applied to a given raster):
    * lossless and FIXED-SIZE, so frames pack at a constant stride and
    * the sampler can slice one frame without parsing its neighbors.
    */
  def bmpBytesOf(img: java.awt.image.BufferedImage): Array[Byte] = {
    val b = ByteBuffer.allocate(BmpBytes).order(ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
      .putInt(BmpBytes).putInt(0).putInt(54)
    b.putInt(40).putInt(Side).putInt(Side)
      .putShort(1).putShort(24)
      .putInt(0).putInt(Side * Side * 3)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    val r = img.getRaster
    var y = Side - 1
    while (y >= 0) {
      var x = 0
      while (x < Side) {
        val g = r.getSample(x, y, 0).toByte
        b.put(g).put(g).put(g)
        x += 1
      }
      y -= 1
    }
    b.array()
  }

  /** The fixture video: [[VidFrames]] concatenated frame BMPs. */
  def encodeVideoFp(srcId: Long, planted: Boolean): Array[Byte] = {
    val out = new Array[Byte](BmpBytes * VidFrames)
    var f = 0
    while (f < VidFrames) {
      System.arraycopy(bmpBytesOf(vidFrameRaster(srcId, f, planted)), 0,
        out, f * BmpBytes, BmpBytes)
      f += 1
    }
    out
  }

  case class VideoFpRow(media_id: Long, src_doc_id: Long, planted: Boolean,
      frame_idx: Int, fp60: Long)

  /** The video media corpus: one base clip per document plus the
    * planted near-dup copies — (media_id, src_id, planted).
    */
  def videoMediaCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    docs
      .select(col("doc_id").as("media_id"), col("doc_id").as("src_id"),
        lit(false).as("planted"))
      .unionByName(docs
        .filter(col("doc_id") % VideoPlantMod === VideoPlantRes)
        .select((col("doc_id") + VideoPlantOffset).as("media_id"),
          col("doc_id").as("src_id"), lit(true).as("planted")))
  }

  /** The video codec pass: per media, slice every [[VidStride]]-th
    * frame out of the packed clip, REAL ImageIO decode of THAT frame
    * alone, dHash from the decoded raster — decode cost ∝ sampled
    * frames, the thumbnail-extractor shape. Same narrow mapPartitions
    * codec boundary as every mm_* family.
    */
  def videoFingerprintsOf(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    graft.Par.spread(media.select(col("media_id"), col("src_id"),
        col("planted")))
      .as[(Long, Long, Boolean)]
      .mapPartitions(_.flatMap { case (mid, sid, pl) =>
        val clip = encodeVideoFp(sid, pl)
        (0 until VidFrames by VidStride).iterator.map { f =>
          val bytes = java.util.Arrays.copyOfRange(
            clip, f * BmpBytes, (f + 1) * BmpBytes)
          val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
          require(img != null, s"frame $f of media $mid failed to decode")
          VideoFpRow(mid, sid, pl, f, dhash60(img))
        }
      })
      .toDF()
  }

  def mmVideoFingerprints(s: SparkSession, dir: String): DataFrame =
    videoFingerprintsOf(videoMediaCorpus(s, dir))

  case class VideoJpegRow(media_id: Long, frame_idx: Int,
      within_threshold: Boolean, band_candidate: Boolean)

  /** Highest synthetic id tools/ProfileVideoJpeg has swept — the same
    * guard contract as [[PhashJpegProfiledMaxId]] (the phash profiling
    * does NOT transfer: video frames hash from their own salts).
    */
  val VideoJpegProfiledMaxId = 4999L

  /** LOSSY-SURVIVAL audit of the video detector — the matrix-completing
    * third audit (image×JPEG, audio×μ-law, video×per-frame JPEG): a
    * video whose frames were JPEG-recompressed (the most common
    * re-encode on the web) must still be catchable by the frame vote.
    * For every doc and every SAMPLED frame: the fingerprint from the
    * lossless raster vs the fingerprint after a real JPEG q=0.9
    * encode→decode cycle; emits per-frame Hamming ≤ 4 and ≥1-intact-
    * band candidacy. Measured over every sampled frame the testdata
    * can produce (tools/ProfileVideoJpeg, 15 750 frames: max 4
    * flipped bits, mean 0.288, band candidacy everywhere), so both
    * booleans are TRUE corpus-wide — every frame stays individually
    * reachable, hence EVERY frame vote survives recompression.
    */
  def mmVideoJpegSurvival(s: SparkSession, dir: String,
      quality: Float = 0.9f, maxHamming: Int = 4): DataFrame = {
    import s.implicits._
    val maxId = maxDocId(s, dir)
    require(maxId <= VideoJpegProfiledMaxId,
      s"dedup_video_jpeg's corpus-wide survival claim is profiled for " +
        s"ids 0-$VideoJpegProfiledMaxId but this corpus reaches $maxId; " +
        s"run `sbt \"runMain graft.tools.ProfileVideoJpeg ${maxId + 1}\"` " +
        "and raise VideoJpegProfiledMaxId if maxHamming stays <= 4")
    graft.Par.spread(Tables.documents(s, dir).select(col("doc_id")))
      .as[Long]
      .mapPartitions(_.flatMap { sid =>
        (0 until VidFrames by VidStride).iterator.map { f =>
          val raster = vidFrameRaster(sid, f, planted = false)
          val base = dhash60(raster)
          val jf = dhash60(decodeJpegDirect(jpegBytesOf(raster, quality)))
          val x = base ^ jf
          val ham = java.lang.Long.bitCount(x)
          val bandShared =
            (0 until 4).exists(b => ((x >> (b * 15)) & 32767L) == 0L)
          VideoJpegRow(sid, f, ham <= maxHamming, bandShared)
        }
      })
      .toDF()
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Fixture audio: 1024 samples of 8-bit unsigned mono PCM at 8 kHz,
    * sample i = (i·37 + media_id·11 + contentLen) mod 256, wrapped in a
    * standard 44-byte RIFF/WAVE header.
    */
  val AudioSamples = 1024
  val WavBytes: Int = 44 + AudioSamples

  def encodeWav(mediaId: Long, contentLen: Long): Array[Byte] = {
    val b = ByteBuffer.allocate(WavBytes).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + AudioSamples)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                       // PCM
      .putShort(1)                       // mono
      .putInt(8000).putInt(8000)         // sample rate, byte rate
      .putShort(1).putShort(8)           // block align, bits/sample
    b.put("data".getBytes("US-ASCII")).putInt(AudioSamples)
    var i = 0
    while (i < AudioSamples) {
      b.put(((((i * 37 + mediaId * 11 + contentLen) % 256) + 256) % 256).toByte)
      i += 1
    }
    b.array()
  }

  case class AudioFeatures(media_id: Long, n_samples: Long, sample_rate: Int,
      first_sample: Long, mean_level: Double, rms: Double)

  /** REAL audio decode: javax.sound.sampled parses the WAV container and
    * format, and features come from the decoded sample stream — mean
    * level and RMS about the 8-bit midpoint (128), both from exact
    * integer sums (one final IEEE division / sqrt each, so the values
    * are engine-reproducible).
    */
  def decodeAudio(m: MediaRow): AudioFeatures = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(m.payload))
    val fmt = in.getFormat
    require(fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1,
      s"media ${m.media_id}: unexpected format $fmt")
    val data = in.readAllBytes()
    var sum = 0L
    var sumSq = 0L
    var i = 0
    while (i < data.length) {
      val s = data(i) & 0xff
      sum += s
      val d = s - 128L
      sumSq += d * d
      i += 1
    }
    // NOTE: the fixture's mean/RMS are clip-independent by construction
    // (i·37 mod 256 cycles the full residue set), so first_sample is the
    // doc-dependent value that makes each row's hash distinctive
    AudioFeatures(m.media_id, data.length.toLong, fmt.getSampleRate.toInt,
      (data(0) & 0xff).toLong,
      sum.toDouble / (255.0 * data.length),
      math.sqrt(sumSq.toDouble / data.length))
  }

  /** Audio operator: encode → REAL WAV decode → per-clip features. */
  def mmAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Par.spread(Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast(LongType).as("clen")))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, clen) =>
        decodeAudio(MediaRow(id, "audio/wav", encodeWav(id, clen)))
      })
      .toDF()
      .orderBy(col("media_id"))
  }

  // ---- audio fingerprint fixtures (the audio twin of the phash
  // family — r16 verdict #3): near-identical clips with different
  // bytes (re-encoded, companded, lightly edited) must collapse to
  // nearby fingerprints the banded Hamming join can surface without
  // an all-pairs scan. The fingerprint is a 60-bit energy-delta dHash
  // over 61 fixed windows — the 1D twin of the image dHash, so the
  // banding, the join, and the oracle arithmetic all reuse the
  // certified phash shape.

  /** Plant parameters of the audio fixture corpus: every doc renders
    * one 61-window clip; docs with `doc_id % 20 == 3` ALSO plant an
    * edited copy at `doc_id + AudioPlantOffset` whose windows 13 and
    * 47 are boosted by 40 levels. Two changed windows flip at most 4
    * fingerprint bits (each window participates in exactly two
    * adjacent-window comparisons: bits {12,13} and {46,47}), leaving
    * bands 1 and 2 of the 4×15 banding untouched — band candidacy is
    * GUARANTEED, not probabilistic.
    */
  val AudioPlantOffset = 1000000L
  val AudioPlantMod = 20L
  val AudioPlantRes = 3L
  val AudioPlantWindows: Seq[Int] = Seq(13, 47)
  val AudioPlantBumpSteps = 13 // 13 grid steps = 39 levels
  val AudWindows = 61
  val AudWinSamples = 16
  val AudSamplesTotal: Int = AudWindows * AudWinSamples

  /** Level of window w of doc `srcId`'s fixture clip: the md5-backed
    * hash60 (the corpus-wide hash convention, mirrored in DuckDB as
    * `('0x' || substr(md5(…), 1, 15))::BIGINT`) mod 256 — content-
    * hashed so unrelated docs' fingerprints sit ~30 bits apart and the
    * detector's matches are the planted edits, not fixture artifacts.
    */
  def audWindowLevel(srcId: Long, w: Int, planted: Boolean): Int = {
    // levels live on a 3-step grid (2, 5, …, 254): the JDK's
    // s16↔μ-law cycle recovers interior levels within ±2 but CLIPS
    // the extremes (level 0 recovers as 128, 255 as 128 — measured
    // err table), and over the grid the cycle produces 0 order
    // violations + 11 ties among the 85 grid levels — so companding
    // drift on the fingerprint is REAL (ties demote a strict '>')
    // but bounded, where full-range random levels measured max 7
    // flipped bits with 5 clips losing all four bands. The plant
    // bumps in GRID UNITS with a mod-85 wrap so planted copies stay
    // on the grid.
    val idx0 = (graft.functions.TextHash.hash60(s"audfp|$srcId|$w") % 85L).toInt
    val idx =
      if (planted && AudioPlantWindows.contains(w))
        (idx0 + AudioPlantBumpSteps) % 85
      else idx0
    idx * 3 + 2
  }

  /** The fixture clip as REAL WAV bytes: 61 windows × 16 samples of
    * 8-bit unsigned mono PCM at 8 kHz, each window constant at its
    * [[audWindowLevel]] — constant windows make the window mean the
    * level EXACTLY (integer division of a 16-sample sum), so lossless
    * PCM round-trips the fingerprint bit-for-bit and the oracle can
    * recompute it from the generating arithmetic.
    */
  def audWavBytes(srcId: Long, planted: Boolean): Array[Byte] = {
    val n = AudSamplesTotal
    val b = ByteBuffer.allocate(44 + n).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                       // PCM
      .putShort(1)                       // mono
      .putInt(8000).putInt(8000)         // sample rate, byte rate
      .putShort(1).putShort(8)           // block align, bits/sample
    b.put("data".getBytes("US-ASCII")).putInt(n)
    var w = 0
    while (w < AudWindows) {
      val lvl = audWindowLevel(srcId, w, planted)
      var i = 0
      while (i < AudWinSamples) { b.put(lvl.toByte); i += 1 }
      w += 1
    }
    b.array()
  }

  /** REAL decode of an 8-bit unsigned mono WAV to its sample levels —
    * javax.sound.sampled parses container + format, the samples come
    * from the decoded stream (the same codec boundary as mmAudio).
    */
  def decodeWavU8(bytes: Array[Byte]): Array[Int] = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(bytes))
    val fmt = in.getFormat
    require(fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1,
      s"unexpected audio format $fmt")
    in.readAllBytes().map(_ & 0xff)
  }

  /** 60-bit energy-delta fingerprint of a DECODED clip: bit w is set
    * iff window w's mean level exceeds window w+1's (61 windows → 60
    * comparisons; 60 bits keeps every banded/summed form inside
    * positive signed-64 range in both engines, the dhash60
    * convention). Window means are exact integer division of a
    * 16-sample sum.
    */
  def audioFp60(samples: Array[Int]): Long = {
    require(samples.length == AudSamplesTotal,
      s"expected $AudSamplesTotal samples, got ${samples.length}")
    val mean = new Array[Int](AudWindows)
    var w = 0
    while (w < AudWindows) {
      var sum = 0
      var i = 0
      while (i < AudWinSamples) { sum += samples(w * AudWinSamples + i); i += 1 }
      mean(w) = sum / AudWinSamples
      w += 1
    }
    var fp = 0L
    w = 0
    while (w < 60) {
      if (mean(w) > mean(w + 1)) fp |= (1L << w)
      w += 1
    }
    fp
  }

  /** One real μ-law companding cycle: unsigned-8 WAV → signed-16 PCM →
    * ULAW (the JDK's built-in lossy codec) → signed-16 PCM → recovered
    * 8-bit levels. μ-law quantization error grows with amplitude (±2
    * levels at this fixture's range — measured by
    * tools/ProfileAudioUlaw), which is exactly the drift the survival
    * audit must prove the detector tolerates.
    */
  def ulawRoundTripU8(wav: Array[Byte]): Array[Int] = {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    val src = AudioSystem.getAudioInputStream(new ByteArrayInputStream(wav))
    val s16 = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, false)
    val pcm16 = AudioSystem.getAudioInputStream(s16, src)
    val ulawFmt = new AudioFormat(AudioFormat.Encoding.ULAW,
      8000f, 8, 1, 1, 8000f, false)
    val ul = AudioSystem.getAudioInputStream(ulawFmt, pcm16)
    val ulBytes = ul.readAllBytes()
    val back = AudioSystem.getAudioInputStream(s16,
      new AudioInputStream(new ByteArrayInputStream(ulBytes), ulawFmt,
        ulBytes.length.toLong))
    val bb = back.readAllBytes()
    val out = new Array[Int](bb.length / 2)
    var i = 0
    while (i < out.length) {
      val s = (bb(2 * i + 1).toInt << 8) | (bb(2 * i) & 0xff)
      out(i) = (s >> 8) + 128
      i += 1
    }
    out
  }

  case class AudioFpRow(media_id: Long, src_doc_id: Long, planted: Boolean,
      audfp60: Long)

  /** The audio media corpus: one base clip per document plus the
    * planted edited copies — (media_id, src_id, planted).
    */
  def audioMediaCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    docs
      .select(col("doc_id").as("media_id"), col("doc_id").as("src_id"),
        lit(false).as("planted"))
      .unionByName(docs
        .filter(col("doc_id") % AudioPlantMod === AudioPlantRes)
        .select((col("doc_id") + AudioPlantOffset).as("media_id"),
          col("doc_id").as("src_id"), lit(true).as("planted")))
  }

  /** The audio codec pass: corpus clips → REAL WAV encode → REAL
    * decode → fingerprint from the DECODED samples. Same narrow
    * mapPartitions codec boundary as every mm_* family: no shuffle,
    * parallel by split.
    */
  def audioFingerprintsOf(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    graft.Par.spread(media.select(col("media_id"), col("src_id"),
        col("planted")))
      .as[(Long, Long, Boolean)]
      .mapPartitions(_.map { case (mid, sid, pl) =>
        AudioFpRow(mid, sid, pl, audioFp60(decodeWavU8(audWavBytes(sid, pl))))
      })
      .toDF()
  }

  def mmAudioFingerprints(s: SparkSession, dir: String): DataFrame =
    audioFingerprintsOf(audioMediaCorpus(s, dir))

  case class AudioUlawRow(media_id: Long, within_threshold: Boolean,
      band_candidate: Boolean)

  /** Highest synthetic id tools/ProfileAudioUlaw has swept (ids
    * 0-4999, every sf the driver generates) — the same guard contract
    * as [[PhashJpegProfiledMaxId]].
    */
  val AudioUlawProfiledMaxId = 4999L

  /** LOSSY-SURVIVAL audit of the audio fingerprint — the
    * dedup_phash_jpeg pattern on the audio modality: a μ-law-companded
    * copy of a clip (same audio, different bytes — telephony's
    * standard lossy transport) must still land inside the detector's
    * operating threshold. For every doc: the base fingerprint from the
    * lossless WAV round-trip vs the fingerprint of the SAME clip after
    * a real ULAW encode→decode cycle; emits Hamming ≤ `maxHamming`
    * and ≥1-intact-band candidacy. Measured over every id the testdata
    * can produce (tools/ProfileAudioUlaw, ids 0-4999): see the oracle
    * note for the measured bound. A hash match certifies, through two
    * REAL codec cycles per row, that companding cannot hide a
    * duplicate from this detector on these corpora.
    */
  def mmAudioUlawSurvival(s: SparkSession, dir: String,
      maxHamming: Int = 4): DataFrame = {
    import s.implicits._
    val maxId = maxDocId(s, dir)
    require(maxId <= AudioUlawProfiledMaxId,
      s"dedup_audio_ulaw's corpus-wide survival claim is profiled for " +
        s"ids 0-$AudioUlawProfiledMaxId but this corpus reaches $maxId; " +
        s"run `sbt \"runMain graft.tools.ProfileAudioUlaw ${maxId + 1}\"` " +
        "and raise AudioUlawProfiledMaxId if the bound holds")
    graft.Par.spread(Tables.documents(s, dir).select(col("doc_id")))
      .as[Long]
      .mapPartitions(_.map { sid =>
        val wav = audWavBytes(sid, planted = false)
        val base = audioFp60(decodeWavU8(wav))
        val companded = audioFp60(ulawRoundTripU8(wav))
        val x = base ^ companded
        val ham = java.lang.Long.bitCount(x)
        val bandShared = (0 until 4).exists(b => ((x >> (b * 15)) & 32767L) == 0L)
        AudioUlawRow(sid, ham <= maxHamming, bandShared)
      })
      .toDF()
      .orderBy(col("media_id"))
  }
}
