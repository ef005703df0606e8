package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}

/** Multimodal plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with typed metadata beside them; decode/feature
  * extraction runs per-partition so heavyweight codec state is initialized
  * once per partition, not once per row (the mapInPandas batch shape,
  * expressed Scala-side with mapPartitions).
  *
  * The IMAGE path is real: [[resizeThumbs]] decodes PNG/JPEG/GIF/BMP via
  * the JDK's own ImageIO readers and box-filters a true thumbnail, with
  * a declared stride-sample fallback for payloads that don't decode.
  * The audio/video feature extractor ([[decodeFeatures]]) remains a
  * deterministic fake — those codecs don't ship with the JVM — behind
  * the same batched per-partition shape. Everything around them (binary
  * schema, magic headers, checksums, batched decode, partition-pruned
  * writes) is the real engine surface.
  */
object Multimodal {

  /** Fake 4-byte container magic, standing in for PNG/JPEG/RIFF sniffing. */
  private[graft] val Magic: Array[Byte] = Array('G', 'F', 'T', '1').map(_.toByte)

  /** Decoded features for one blob. */
  final case class MediaFeatures(doc_id: Long, width: Int, height: Int, mean_luma: Double)

  /** Binary ingestion: payload = magic || utf8(text) — the engine treats it
    * as an opaque blob from here on; only the sniffer reads the header.
    */
  def binarize(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("source"),
      concat(lit(Magic), encode(col("text"), "UTF-8")).as("blob"))

  /** Typed metadata extracted without decoding: length, sniffed container,
    * checksum. All codegen'd binary expressions — no UDF.
    */
  def withMeta(blobs: DataFrame): DataFrame =
    blobs.select(
      col("doc_id"),
      col("source"),
      col("blob"),
      struct(
        octet_length(col("blob")).as("n_bytes"),
        hex(substring(col("blob"), 1, 4)).as("magic"),
        crc32(col("blob")).as("checksum"),
      ).as("meta"))

  /** Per-partition batched decode. REAL pipeline shape: one codec init per
    * partition, iterate blobs, emit typed features. The decode body is the
    * deterministic STUB — replace `fakeDecode` with the actual codec call
    * when the image/audio libraries are available.
    */
  def decodeFeatures(blobs: DataFrame): Dataset[MediaFeatures] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs
      .select(col("doc_id").as("_1"), col("blob").as("_2"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // codec init would happen HERE, once per partition
        it.map { case (id, bytes) => fakeDecode(id, bytes) }
      }
  }

  /** STUB decoder: deterministic features from payload bytes (stands in
    * for image decode; keeps tests and oracles reproducible).
    */
  private def fakeDecode(id: Long, bytes: Array[Byte]): MediaFeatures = {
    val n = bytes.length
    var acc = 0L
    var i = Magic.length
    while (i < n) { acc += bytes(i) & 0xffL; i += 1 }
    val body = math.max(n - Magic.length, 1)
    MediaFeatures(
      doc_id = id,
      width = 16 + (acc % 64).toInt,
      height = 16 + ((acc / 64) % 64).toInt,
      mean_luma = acc.toDouble / body / 255.0,
    )
  }

  val qBinaryMeta = GraftQuery(
    "mm_binary_meta",
    (s, d) => {
      // End-to-end plumbing over documents-as-blobs: ingest -> metadata ->
      // batched decode -> join features back -> per-source stats.
      val blobs = withMeta(binarize(Tables.documents(s, d)))
      val feats = decodeFeatures(blobs).toDF()
      blobs
        .join(feats, Seq("doc_id"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_blobs"),
          sum(col("meta.n_bytes").cast("long")).as("total_bytes"),
          countDistinct(col("meta.magic")).as("n_magics"),
          min(col("width")).as("min_w"),
          max(col("height")).as("max_h"),
          RelationalCore.davg(col("mean_luma"), 6).as("avg_luma"),
        )
        .orderBy("source")
    },
    None,
  )

  /** The metadata stage under the HARD oracle gate. The rows-only
    * variant above exercises the full plumbing (decode stub included);
    * this twin pins the no-decode metadata path cross-engine: n_bytes,
    * sniffed magic (Spark `hex` emits the same uppercase hex DuckDB
    * expects), and an md5 checksum of the OPAQUE blob — Spark md5 over
    * the binary column equals DuckDB md5 over the reconstructed
    * 'GFT1' || text byte stream (both hash raw UTF-8 bytes to lowercase
    * hex). The decode STUB stays rows-only by design (its fake features
    * are not ANSI-expressible); crc32 likewise has no DuckDB analog, so
    * the portable checksum here is md5.
    */
  val qMetaMd5 = GraftQuery(
    "mm_meta_md5",
    (s, d) => {
      val blobs = binarize(Tables.documents(s, d))
      blobs.select(
        col("doc_id"),
        col("source"),
        octet_length(col("blob")).cast("long").as("n_bytes"),
        hex(substring(col("blob"), 1, 4)).as("magic"),
        md5(col("blob")).as("blob_md5"),
      ).orderBy("doc_id")
    },
    Some("""SELECT doc_id, source,
        CAST(4 + octet_length(encode(text)) AS BIGINT) AS n_bytes,
        '47465431' AS magic,
        md5('GFT1' || text) AS blob_md5
      FROM documents ORDER BY doc_id"""),
    prod = Some((s, d) => {
      val blobs = binarize(Tables.documents(s, d))
      blobs.select(
        col("doc_id"),
        col("source"),
        octet_length(col("blob")).cast("long").as("n_bytes"),
        hex(substring(col("blob"), 1, 4)).as("magic"),
        md5(col("blob")).as("blob_md5"))
    }),
  )

  /** Bytes per fixed-size "frame" in the frame-sampling analog. */
  private val FrameBytes = 64
  /** Keep every Nth frame. */
  private val SampleEvery = 4

  /** Frame sampling over the opaque blob — the video-keyframe-sampling
    * analog: the payload is treated as a sequence of fixed-size frames
    * and every Nth frame is emitted with its checksum. Stateless per-row
    * generate (sequence with a step) + codegen'd substring/md5 — zero
    * shuffle, embarrassingly parallel; the sampled-frame stream is what
    * a real decoder's keyframe pass would feed downstream.
    *
    * HARD-gate note: the oracle reconstructs the blob as a VARCHAR and
    * slices characters; documents text is all-ASCII (verified: 0 docs
    * where octet_length(encode(text)) <> length(text)), so char slices
    * equal byte slices and DuckDB's md5(VARCHAR) hashes the same bytes
    * Spark's md5(binary frame) does.
    */
  private def frameSample(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    binarize(Tables.documents(s, d))
      .withColumn("n_frames", expr(s"(octet_length(blob) - ${Magic.length}) div $FrameBytes").cast("long"))
      .filter(col("n_frames") > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_frames") - 1L, lit(SampleEvery.toLong))).as("frame_idx"),
        col("blob"))
      .select(
        col("doc_id"),
        col("frame_idx"),
        md5(expr(s"substring(blob, ${Magic.length + 1} + frame_idx * $FrameBytes, $FrameBytes)"))
          .as("frame_md5"))
  }

  val qFrameSample = GraftQuery(
    "mm_frame_sample",
    (s, d) => frameSample(s, d).orderBy("doc_id", "frame_idx"),
    Some(s"""WITH f AS (
        SELECT doc_id, 'GFT1' || text AS blob,
          octet_length(encode(text)) // $FrameBytes AS n_frames
        FROM documents)
      SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        md5(substring(blob, CAST(5 + i * $FrameBytes AS BIGINT), $FrameBytes)) AS frame_md5
      FROM f CROSS JOIN UNNEST(range(0, n_frames, $SampleEvery)) AS u(i)
      WHERE n_frames > 0
      ORDER BY doc_id, frame_idx"""),
    prod = Some((s, d) => frameSample(s, d)),
  )

  /** Resized thumbnail for one blob: decode outcome, source and thumb
    * pixel geometry, and the checksum of the thumb's raw RGB bytes
    * (fallback path: stride-sampled payload bytes, geometry zeroed).
    */
  final case class Thumb(doc_id: Long, orig_bytes: Int, decoded: Boolean,
      orig_w: Int, orig_h: Int, thumb_w: Int, thumb_h: Int,
      thumb_bytes: Int, thumb_md5: String)

  /** Stride at which the non-image fallback samples payload bytes. */
  private val ResizeStride = 8

  /** Longest thumbnail edge; aspect ratio is preserved. */
  private[graft] val ThumbMaxDim = 16

  /** Row writer over the decoded raster: `(y, dst, off)` fills `dst`
    * from `off` with row y's ARGB ints — the ONE place the layout lanes
    * live. The arithmetic passes ([[areaAverage]], [[imageFeatures]])
    * stream rows through a single reused w-int buffer, so their extra
    * heap is O(w) regardless of frame size (a full-frame int array would
    * add ~133% transient heap on top of the 3-byte raster for large
    * frames).
    *
    * The fast lanes walk the Raster's backing byte array directly for
    * the interleaved-byte layouts ImageIO actually decodes into
    * (3BYTE_BGR for opaque PNG/JPEG/BMP, 4BYTE_ABGR for alpha PNG):
    * those store plain non-premultiplied sRGB bytes, so repacking them
    * is bit-identical to what getRGB returns — without getRGB's
    * per-pixel ColorModel dispatch and per-pixel transfer-array
    * allocation. ScaleProbe15 measured the alternatives on this JDK:
    * the bulk `getRGB(0,0,w,h,buf,0,w)` overload is NOT faster (it
    * loops the same per-pixel conversion internally for byte rasters);
    * the direct walk is ~5x. Anything but the two known layouts — or a
    * layout with a nonstandard stride/offset — takes the row-getRGB
    * fallback, which is conversion-correct for every ColorModel.
    * Either way every downstream sum and thumb byte is unchanged; the
    * specs' independent planted-PNG recomputation pins that.
    */
  private[graft] def argbRowWriter(
      img: java.awt.image.BufferedImage): (Int, Array[Int], Int) => Unit = {
    import java.awt.image.{BufferedImage, DataBufferByte}
    val w = img.getWidth
    val n = w * img.getHeight
    val raster = img.getRaster
    val tight = raster.getDataBuffer.getOffset == 0 &&
      raster.getSampleModelTranslateX == 0 && raster.getSampleModelTranslateY == 0
    img.getType match {
      case BufferedImage.TYPE_3BYTE_BGR
          if tight && raster.getDataBuffer.getSize == n * 3 =>
        val d = raster.getDataBuffer.asInstanceOf[DataBufferByte].getData
        (y, dst, off) => {
          var i = y * w * 3
          var o = off
          val end = off + w
          while (o < end) {
            dst(o) = 0xff000000 | ((d(i + 2) & 0xff) << 16) |
              ((d(i + 1) & 0xff) << 8) | (d(i) & 0xff)
            i += 3
            o += 1
          }
        }
      case BufferedImage.TYPE_4BYTE_ABGR
          if tight && raster.getDataBuffer.getSize == n * 4 =>
        val d = raster.getDataBuffer.asInstanceOf[DataBufferByte].getData
        (y, dst, off) => {
          var i = y * w * 4
          var o = off
          val end = off + w
          while (o < end) {
            dst(o) = ((d(i) & 0xff) << 24) | ((d(i + 3) & 0xff) << 16) |
              ((d(i + 2) & 0xff) << 8) | (d(i + 1) & 0xff)
            i += 4
            o += 1
          }
        }
      case _ =>
        (y, dst, off) => { img.getRGB(0, y, w, 1, dst, off, w); () }
    }
  }

  /** Deterministic box-filter downscale: target pixel (tx, ty) is the
    * integer mean RGB of its source box [tx·w/tw, (tx+1)·w/tw) ×
    * [ty·h/th, (ty+1)·h/th) — pure integer arithmetic over the decoded
    * ARGB raster (no Graphics2D, whose rendering hints are platform
    * lottery), so FILTERING never introduces variance. End-to-end thumb
    * bytes are bit-identical across JVMs for losslessly-specified
    * containers (PNG/BMP/GIF, where decode is spec-exact); JPEG decode
    * is NOT spec-exact across JDK vendors, so JPEG thumbs are
    * deterministic per-JVM replay only. Returns tw×th×3 packed RGB
    * bytes.
    *
    * Source rows stream through one w-int buffer into per-target-cell
    * integer sums (tw*th*3 longs) — the same additions the full-frame
    * walk performed, reordered y-outermost, so every sum and output
    * byte is unchanged while extra heap drops from O(w*h) to
    * O(w + tw*th). Boxes may OVERLAP on an upscaled axis (x1/y1 are
    * clamped to at least one source pixel), so a source row feeds every
    * target row whose box contains it, not just one.
    */
  private[graft] def areaAverage(
      img: java.awt.image.BufferedImage, tw: Int, th: Int): Array[Byte] = {
    val w = img.getWidth
    val h = img.getHeight
    val write = argbRowWriter(img)
    val rowBuf = new Array[Int](w)
    val sums = new Array[Long](tw * th * 3)
    val x0s = Array.tabulate(tw)(tx => tx * w / tw)
    val x1s = Array.tabulate(tw)(tx => math.max((tx + 1) * w / tw, x0s(tx) + 1))
    val y0s = Array.tabulate(th)(ty => ty * h / th)
    val y1s = Array.tabulate(th)(ty => math.max((ty + 1) * h / th, y0s(ty) + 1))
    var y = 0
    while (y < h) {
      var read = false
      var ty = 0
      while (ty < th) {
        if (y >= y0s(ty) && y < y1s(ty)) {
          if (!read) { write(y, rowBuf, 0); read = true }
          var tx = 0
          while (tx < tw) {
            var r = 0L; var g = 0L; var b = 0L
            var x = x0s(tx)
            val x1 = x1s(tx)
            while (x < x1) {
              val p = rowBuf(x)
              r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
              x += 1
            }
            val o = (ty * tw + tx) * 3
            sums(o) += r; sums(o + 1) += g; sums(o + 2) += b
            tx += 1
          }
        }
        ty += 1
      }
      y += 1
    }
    val out = new Array[Byte](tw * th * 3)
    var ty = 0
    while (ty < th) {
      var tx = 0
      while (tx < tw) {
        val nPix = (x1s(tx) - x0s(tx)).toLong * (y1s(ty) - y0s(ty))
        val o = (ty * tw + tx) * 3
        out(o) = (sums(o) / nPix).toByte
        out(o + 1) = (sums(o + 1) / nPix).toByte
        out(o + 2) = (sums(o + 2) / nPix).toByte
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** One doc in every [[ImageEvery]] carries a REAL PNG payload in the
    * resize query's input lane.
    */
  private[graft] val ImageEvery = 50L

  /** Deterministic RGB pixel for (doc_id, x, y): a splitmix64-style
    * finalizer over the coordinates, so planted image bytes are pure
    * functions of the doc_id — reproducible on any executor, any replay.
    */
  private[graft] def pixelOf(docId: Long, x: Int, y: Int): Int = {
    var z = docId * 0x9e3779b97f4a7c15L + x * 0xbf58476d1ce4e5b9L + y * 0x94d049bb133111ebL
    z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
    z ^= z >>> 27; z *= 0x94d049bb133111ebL
    z ^= z >>> 31
    (z & 0xffffff).toInt
  }

  /** Planted-image geometry for doc_id: both edges vary, some above and
    * some below [[ThumbMaxDim]], so the resize path exercises downscale
    * and identity cases. Package-visible: the spec asserts the decoded
    * geometry against this.
    */
  private[graft] def imageDims(docId: Long): (Int, Int) =
    (20 + (docId % 13).toInt, 12 + (docId % 7).toInt)

  /** Real PNG bytes (JDK ImageIO encoder) with deterministic pixels. */
  private[graft] def pngOf(docId: Long): Array[Byte] = {
    val (w, h) = imageDims(docId)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, pixelOf(docId, x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Binarize with a planted REAL-image lane: every [[ImageEvery]]th doc
    * ships `magic || PNG` (true PNG container, deterministic pixels keyed
    * on doc_id), the rest the `magic || utf8(text)` blob — so the
    * driver-gated resize query exercises BOTH decode outcomes on driver
    * data, not only in spec-synthesized blobs. The hash-gated metadata
    * queries stay on [[binarize]]: their oracles state the text-blob
    * byte stream.
    */
  def binarizeWithImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").as("_1"), col("source").as("_2"), col("text").as("_3"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, src, text) =>
          val blob =
            if (id % ImageEvery == 0L) Magic ++ pngOf(id)
            else Magic ++ text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          (id, src, blob)
        }
      }
      .toDF("doc_id", "source", "blob")
  }

  /** REAL resize: per-partition batched thumbnailing, binary-in /
    * binary-out, the same shape as [[decodeFeatures]]. Payloads that
    * decode as images (JDK ImageIO: PNG/JPEG/GIF/BMP readers ship with
    * the JVM — no external codec needed) are downscaled to a true
    * [[ThumbMaxDim]]-bounded thumbnail via [[areaAverage]]'s
    * deterministic box filter; payloads that are NOT images (this
    * corpus's text blobs, a decode-corrupt frame at 100 TB) take the
    * declared stride-sample fallback with `decoded = false` — real
    * pipelines route exactly this split (decode failure → quarantine
    * lane), so the fallback is surface, not stub. Deterministic either
    * way; rows-only by design (blob bytes aren't SQL-comparable).
    */
  def resizeThumbs(blobs: DataFrame): Dataset[Thumb] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs
      .select(col("doc_id").as("_1"), col("blob").as("_2"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // codec init once per partition: ImageIO's disk cache off, so
        // decode is pure in-memory work on the executor
        javax.imageio.ImageIO.setUseCache(false)
        val md = java.security.MessageDigest.getInstance("MD5")
        def hexOf(bytes: Array[Byte]): String = {
          md.reset()
          md.digest(bytes).map(b => f"$b%02x").mkString
        }
        it.map { case (id, bytes) =>
          val body = java.util.Arrays.copyOfRange(bytes, Magic.length, bytes.length)
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(body))
            catch { case scala.util.control.NonFatal(_) => null }
          if (img != null && img.getWidth > 0 && img.getHeight > 0) {
            val w = img.getWidth
            val h = img.getHeight
            val tw = if (w >= h) math.min(w, ThumbMaxDim) else math.max(1, w * math.min(h, ThumbMaxDim) / h)
            val th = if (w >= h) math.max(1, h * math.min(w, ThumbMaxDim) / w) else math.min(h, ThumbMaxDim)
            val px = areaAverage(img, tw, th)
            Thumb(id, bytes.length, decoded = true, w, h, tw, th, px.length, hexOf(px))
          } else {
            val thumb = body.indices.collect { case i if i % ResizeStride == 0 => body(i) }.toArray
            Thumb(id, bytes.length, decoded = false, 0, 0, 0, 0, thumb.length, hexOf(thumb))
          }
        }
      }
  }

  val qResize = GraftQuery(
    "mm_resize",
    (s, d) => resizeThumbs(binarizeWithImages(Tables.documents(s, d))).toDF().orderBy("doc_id"),
    // rows-only: blob bytes aren't SQL-comparable; semantics are
    // spec-asserted (planted-PNG geometry + thumb checksums, fallback
    // length law, determinism, magic exclusion). The planted-image lane
    // makes BOTH decode outcomes visible in the driver-gated rows.
    None,
    prod = Some((s, d) => resizeThumbs(binarizeWithImages(Tables.documents(s, d))).toDF()),
  )

  /** Per-image decoded features: exact integer channel sums and pixel
    * count (means are a downstream division — integers keep the row
    * bit-stable across partition order and replay, the same
    * exact-sums-first discipline the text metrics use). Fallback lane
    * (non-image payloads) reports decoded=false with zeroed features —
    * the quarantine split again.
    */
  final case class ImgFeatures(doc_id: Long, decoded: Boolean, w: Int, h: Int,
      n_pix: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL image feature extraction over the decoded raster — upgrades
    * the feature-extract leg from [[decodeFeatures]]'s declared stub to
    * an actual decode for image payloads: per-partition batched ImageIO
    * decode (codec init once, same shape as [[resizeThumbs]]), then one
    * integer pass over the ARGB raster. At 100 TB this is the
    * embarrassing-parallel scan stage a vision-corpus pipeline runs
    * before any shuffle; features (8 small ints) are what crosses into
    * downstream aggregates, never pixels.
    */
  def imageFeatures(blobs: DataFrame): Dataset[ImgFeatures] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs
      .select(col("doc_id").as("_1"), col("blob").as("_2"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val body = java.util.Arrays.copyOfRange(bytes, Magic.length, bytes.length)
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(body))
            catch { case scala.util.control.NonFatal(_) => null }
          if (img != null && img.getWidth > 0 && img.getHeight > 0) {
            val w = img.getWidth
            val h = img.getHeight
            // rows stream through one w-int buffer: O(w) extra heap per
            // frame, identical integer sums to the full-frame walk
            val write = argbRowWriter(img)
            val rowBuf = new Array[Int](w)
            var r = 0L; var g = 0L; var b = 0L
            var y = 0
            while (y < h) {
              write(y, rowBuf, 0)
              var x = 0
              while (x < w) {
                val p = rowBuf(x)
                r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
                x += 1
              }
              y += 1
            }
            ImgFeatures(id, decoded = true, w, h, w.toLong * h, r, g, b)
          } else ImgFeatures(id, decoded = false, 0, 0, 0L, 0L, 0L, 0L)
        }
      }
  }

  val qFeatures = GraftQuery(
    "mm_features",
    (s, d) => imageFeatures(binarizeWithImages(Tables.documents(s, d))).toDF().orderBy("doc_id"),
    // rows-only: the values are pure functions of decoded pixels, not
    // SQL-derivable from the parquet; the spec recomputes the planted
    // PNGs' channel sums independently from the pixel generator.
    None,
    prod = Some((s, d) => imageFeatures(binarizeWithImages(Tables.documents(s, d))).toDF()),
  )

  // ----------------------------------------------- perceptual image hash

  /** dHash grid geometry: gray cells are a [[PhashW]]×[[PhashH]] area
    * average of the decoded frame; each of the (PhashW-1)×PhashH
    * horizontal neighbor comparisons contributes one bit, so the code is
    * 60 bits — the engine's portable-signed width (the simhash_md5
    * convention: 4 bands × 15 bits, pigeonhole intact for hamming ≤ 3).
    */
  private[graft] val PhashW = 7
  private[graft] val PhashH = 10

  /** 60-bit difference hash over a decoded [[PhashW]]×[[PhashH]] RGB
    * raster (the [[areaAverage]] output layout): gray = (r+g+b)/3 in
    * integer arithmetic, bit y*(PhashW-1)+x set iff gray(x+1,y) >
    * gray(x,y). Gradient comparisons are invariant to uniform
    * brightness shifts and to lossless container changes (PNG↔BMP of
    * the same frame decode to the same raster), which is exactly what
    * makes dHash catch the re-encoded/recompressed copies exact
    * byte-dedup misses.
    */
  private[graft] def phashOfRaster(px: Array[Byte]): Long = {
    val cells = PhashW * PhashH
    val gray = new Array[Int](cells)
    var c = 0
    while (c < cells) {
      val o = c * 3
      gray(c) = ((px(o) & 0xff) + (px(o + 1) & 0xff) + (px(o + 2) & 0xff)) / 3
      c += 1
    }
    var code = 0L
    var y = 0
    while (y < PhashH) {
      var x = 0
      while (x < PhashW - 1) {
        if (gray(y * PhashW + x + 1) > gray(y * PhashW + x))
          code |= 1L << (y * (PhashW - 1) + x)
        x += 1
      }
      y += 1
    }
    code
  }

  /** Per-partition batched decode → dHash: the [[resizeThumbs]] codec
    * shape (ImageIO init once per partition, in-memory decode), then
    * [[areaAverage]] + [[phashOfRaster]]. Non-image payloads (decode
    * failure — the quarantine lane) emit no row: perceptual dedup is
    * defined over the image corpus, the same population rule as
    * simhash's zero-token docs. Output (doc_id, phash) is 16 bytes/row —
    * the ONLY thing that ever reaches a shuffle; pixels never do.
    */
  def imagePhash(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs
      .select(col("doc_id").as("_1"), col("blob").as("_2"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          val body = java.util.Arrays.copyOfRange(bytes, Magic.length, bytes.length)
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(body))
            catch { case scala.util.control.NonFatal(_) => null }
          if (img != null && img.getWidth > 0 && img.getHeight > 0)
            Some((id, phashOfRaster(areaAverage(img, PhashW, PhashH))))
          else None
        }
      }
      .toDF("doc_id", "phash")
  }

  /** CONTINUOUS image embeddings from the same decode grid the
    * perceptual hash uses: the [[PhashW]]×[[PhashH]] area-averaged gray
    * raster, MEAN-CENTERED and L2-normalized into a unit vector
    * (vec_id, embedding) — the featurizer for semantic image dedup
    * ([[Dedup.qSemDeDupImage]]).
    *
    * Why centered: raw gray grids are all-positive, so ANY two images
    * sit at high cosine and no threshold separates copies from
    * strangers. Subtracting the grid mean removes the DC component —
    * which also makes the embedding exactly invariant to uniform
    * brightness shifts (up to channel clipping), the same robustness
    * the dHash gets from gradient signs, in continuous form. A flat
    * frame centers to the zero vector, which every cosine kernel in
    * the engine already maps to sim 0 (never a spurious duplicate).
    * Non-decodable payloads emit no row (the quarantine lane).
    */
  def imageEmbeddings(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs
      .select(col("doc_id").as("_1"), col("blob").as("_2"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          val body = java.util.Arrays.copyOfRange(bytes, Magic.length, bytes.length)
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(body))
            catch { case scala.util.control.NonFatal(_) => null }
          if (img != null && img.getWidth > 0 && img.getHeight > 0) {
            val px = areaAverage(img, PhashW, PhashH)
            val cells = PhashW * PhashH
            val g = new Array[Float](cells)
            var c = 0
            var sum = 0f
            while (c < cells) {
              val o = c * 3
              g(c) = ((px(o) & 0xff) + (px(o + 1) & 0xff) + (px(o + 2) & 0xff)) / 3f
              sum += g(c)
              c += 1
            }
            val mean = sum / cells
            var ss = 0d
            c = 0
            while (c < cells) { g(c) -= mean; ss += g(c).toDouble * g(c); c += 1 }
            val nrm = math.sqrt(ss)
            if (nrm > 0) { c = 0; while (c < cells) { g(c) = (g(c) / nrm).toFloat; c += 1 } }
            Some((id, g.toSeq))
          } else None
        }
      }
      .toDF("vec_id", "embedding")
  }

  /** Brightness-shifted variant of [[pngOf]]: every channel clamped at
    * 255 — the "same photo, lightened copy" near-duplicate.
    */
  private[graft] def pngShifted(docId: Long, shift: Int): Array[Byte] = {
    val (w, h) = imageDims(docId)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = pixelOf(docId, x, y)
        def ch(v: Int) = math.min(255, v + shift)
        img.setRGB(x, y, (ch((p >> 16) & 0xff) << 16) | (ch((p >> 8) & 0xff) << 8) | ch(p & 0xff))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The SAME raster as [[pngOf]] in a BMP container — the re-encoded
    * copy whose bytes (and so exact/minhash dedup keys) differ while
    * every decoded pixel is identical. Both containers are lossless, so
    * phash distance is exactly zero.
    */
  private[graft] def bmpOf(docId: Long): Array[Byte] = {
    val (w, h) = imageDims(docId)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, pixelOf(docId, x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    bos.toByteArray
  }

  /** Binarize with planted NEAR-DUPLICATE image lanes: doc id ≡ 0 (mod
    * [[ImageEvery]]) ships the base PNG, id ≡ 1 the SAME raster
    * re-encoded as BMP (different bytes, hamming 0), id ≡ 2 a
    * brightness-shifted PNG of the same base (clipping can perturb a
    * few gradient cells, so its hamming is small but data-dependent —
    * the realistic near-dup). Everything else is the text blob that
    * fails decode. Deterministic per doc_id like every planted lane.
    */
  def binarizeWithImageDups(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").as("_1"), col("source").as("_2"), col("text").as("_3"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, src, text) =>
          val blob = (id % ImageEvery) match {
            case 0L => Magic ++ pngOf(id)
            case 1L => Magic ++ bmpOf(id - 1)
            case 2L => Magic ++ pngShifted(id - 2, 6)
            case _ => Magic ++ text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          }
          (id, src, blob)
        }
      }
      .toDF("doc_id", "source", "blob")
  }

  def all: Seq[GraftQuery] = Seq(qBinaryMeta, qMetaMd5, qFrameSample, qResize, qFeatures)
}
