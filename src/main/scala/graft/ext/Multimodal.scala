package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** One opaque media payload: bytes + provenance. In a production corpus
  * this is the parquet `binary` column holding image/audio/video bytes
  * with typed metadata beside it. */
case class Media(doc_id: Long, source: String, payload: Array[Byte])

/** Decoder output: the typed metadata a feature-extraction stage needs. */
case class DecodedMeta(doc_id: Long, source: String, media_type: String,
                       byte_len: Int, width: Int, height: Int,
                       n_frames: Int, fingerprint: String)

/** One sampled frame reference (decode-on-demand pointer, not pixels). */
case class Frame(doc_id: Long, frame_idx: Int, frame_fp: String)

/** Codec abstraction: turns raw bytes into (media_type, width, height,
  * n_frames). Instantiated ONCE PER PARTITION — real codec contexts
  * (libjpeg/ffmpeg handles, model sessions) are expensive to construct,
  * so per-row init would dominate; per-partition amortizes it, the same
  * cost model as `mapInPandas` reusing state across Arrow batches. */
trait MediaDecoder extends Serializable {
  def decode(payload: Array[Byte]): (String, Int, Int, Int)

  /** The 64 grayscale cell means of the payload rendered onto an 8×8
    * grid, when the decoder can produce PIXELS — the input to a real
    * perceptual aHash. None → the payload has no decodable raster (or
    * the decoder is metadata-only) and callers fall back to the
    * byte-striping approximation. */
  def gray64(payload: Array[Byte]): Option[Array[Double]] = None
}

/** STUB DECODER — deterministic fake for NON-IMAGE media and for the
  * text-bytes testdata (whose payloads decode to nothing): derives
  * plausible metadata arithmetically from the byte length L:
  *   media_type = L%3 → image|audio|video; width = 16 + L%624;
  *   height = 16 + (7L)%464; n_frames = 1 for image else 1 + L%24.
  * Images have the REAL decoder ([[ImageIoDecoder]], JDK codecs) behind
  * the same trait; audio/video would swap in ffmpeg/soundfile the same
  * way. The arithmetic fake stays the registered default because the
  * harness corpus has no real media and the oracle replays the
  * arithmetic exactly — everything AROUND the decode (schema,
  * partitioning, per-partition init, batch iteration) is the real
  * pipeline either way. */
object FakeDecoder extends MediaDecoder {
  def decode(payload: Array[Byte]): (String, Int, Int, Int) = {
    val len = payload.length
    val mediaType = (len % 3) match {
      case 0 => "image"; case 1 => "audio"; case _ => "video"
    }
    val width = 16 + len % 624
    val height = 16 + (len * 7) % 464
    val nFrames = if (mediaType == "image") 1 else 1 + len % 24
    (mediaType, width, height, nFrames)
  }
}

/** REAL image decoder over javax.imageio (JDK-builtin: JPEG, PNG, GIF,
  * BMP — no external codec needed, works headless). `decode` reads WIDTH/
  * HEIGHT FROM THE HEADER ONLY (reader.getWidth never inflates pixel
  * data — the metadata pass over a 100 TB image corpus does no pixel
  * work); `gray64` does the full raster decode + 8×8 block-mean
  * downsample that feeds the real aHash. Non-image payloads fall back to
  * the deterministic stub, so a mixed corpus (or the text-bytes
  * testdata) still decodes every row. The class is stateless/serializable
  * — ImageIO's reader instances are created per CALL inside the
  * per-partition loop, matching the trait's amortization contract. */
object ImageIoDecoder extends MediaDecoder {
  import javax.imageio.ImageIO

  override def decode(payload: Array[Byte]): (String, Int, Int, Int) =
    // exception fallback covers the corrupt-but-recognized case (a
    // truncated JPEG with a valid magic header is routine in a crawled
    // corpus) — one bad asset must degrade to the stub's metadata, not
    // kill the task
    try {
      val iis = ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (readers.hasNext) {
          val r = readers.next()
          try {
            r.setInput(iis)
            ("image", r.getWidth(0), r.getHeight(0), 1)
          } finally r.dispose()
        } else FakeDecoder.decode(payload)
      } finally if (iis != null) iis.close()
    } catch { case _: Exception => FakeDecoder.decode(payload) }

  /** Full decode → luminance (ITU-R BT.601) → 8×8 block means. Each
    * source pixel lands in exactly one cell (the same integer-grid
    * assignment as the byte-striping fallback), so two encodings of the
    * SAME raster — JPEG at different quality, PNG vs JPEG — produce
    * near-identical cell means and thus aHashes within a bit or two. */
  override def gray64(payload: Array[Byte]): Option[Array[Double]] = {
    val img =
      try ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null) return None
    val (w, h) = (img.getWidth, img.getHeight)
    if (w < 8 || h < 8) return None
    val sums = new Array[Double](64)
    val counts = new Array[Long](64)
    var y = 0
    while (y < h) {
      val cy = (y.toLong * 8 / h).toInt
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
        val cell = cy * 8 + (x.toLong * 8 / w).toInt
        sums(cell) += lum; counts(cell) += 1
        x += 1
      }
      y += 1
    }
    Some(Array.tabulate(64)(c => sums(c) / counts(c)))
  }
}

/** Multimodal column operators ([EXT] — the reference is text/metrics
  * only): media bytes flow as opaque `binary` columns; decode and
  * feature-extraction run as `mapPartitions` over a typed Dataset — the
  * Scala analogue of `mapInPandas` (iterator-of-batches in, iterator
  * out, heavyweight state initialized once per partition, no
  * driver-side loop). Only metadata and frame POINTERS shuffle; pixel
  * payloads never do.
  */
object Multimodal {

  /** Hex MD5 through a CALLER-OWNED digest (matching built-in md5()'s hex
    * form). MessageDigest is not thread-safe and costs real allocation, so
    * every operator constructs ONE inside its mapPartitions — per
    * partition, never per row — and threads it here. digest() resets the
    * instance, so reuse across rows is safe. */
  private def md5hex(digest: java.security.MessageDigest,
                     bytes: Array[Byte]): String =
    digest.digest(bytes).map("%02x".format(_)).mkString

  /** documents → Media: the text payload cast to bytes stands in for the
    * binary media column (TESTDATA has no real media; the schema shape is
    * identical). */
  def mediaOf(spark: SparkSession, dir: String): Dataset[Media] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        col("text").cast("binary").as("payload"))
      .as[Media]
  }

  /** Decode stage: one decoder + one digest per PARTITION, streamed over
    * the iterator — constant memory, no collect, no per-row codec
    * construction. This is the operator a real image/audio corpus runs
    * first; at 100 TB it's embarrassingly parallel and the only data
    * movement is the parquet scan itself. */
  def decodeMeta(media: Dataset[Media],
                 decoder: MediaDecoder = FakeDecoder): Dataset[DecodedMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.map { m =>
        val (mediaType, width, height, nFrames) = decoder.decode(m.payload)
        DecodedMeta(m.doc_id, m.source, mediaType, m.payload.length,
          width, height, nFrames, md5hex(digest, m.payload))
      }
    }
  }

  /** Frame sampling: every `stride`-th frame as a (doc_id, frame_idx,
    * frame fingerprint) pointer — the video path's unit of downstream
    * work. Emitting pointers, not pixels, is what keeps the explode
    * cheap: the decode of a sampled frame happens in the NEXT
    * mapPartitions, against co-located bytes. */
  def sampleFrames(meta: Dataset[DecodedMeta], stride: Int): Dataset[Frame] = {
    import meta.sparkSession.implicits._
    meta.mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { m =>
        Range(0, m.n_frames, stride).map { i =>
          Frame(m.doc_id, i,
            md5hex(digest, s"${m.fingerprint}_$i".getBytes("UTF-8")))
        }
      }
    }
  }

  /** Resize stage, metadata half: aspect-fit the decoded dims into
    * `maxDim` (never upscale) and re-fingerprint, since a resized asset
    * is a new cache key downstream. The pixel half of a real resize
    * happens next to the decoder behind [[MediaDecoder]]; this op is the
    * part the ENGINE owns — pure per-row arithmetic, no shuffle. */
  def resizeMeta(meta: Dataset[DecodedMeta], maxDim: Int): Dataset[DecodedMeta] = {
    import meta.sparkSession.implicits._
    meta.mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.map { m =>
        val scale = math.min(1.0, maxDim.toDouble / math.max(m.width, m.height))
        val w = math.max(1, math.round(m.width * scale).toInt)
        val h = math.max(1, math.round(m.height * scale).toInt)
        m.copy(width = w, height = h,
          fingerprint = md5hex(digest, s"${m.fingerprint}_${w}x$h".getBytes("UTF-8")))
      }
    }
  }

  /** The PIXEL half of the resize stage ([[resizeMeta]] owns the
    * metadata half): payloads the JDK codecs can raster are decoded,
    * aspect-fit scaled into `maxDim` (never upscaled — small images pass
    * through byte-identical, preserving their original encoding), drawn
    * bilinear, and re-encoded PNG (deterministic, lossless — a thumbnail
    * re-encoded lossy would drift under repeated pipeline runs).
    * Non-raster payloads pass through untouched, so the op is safe on a
    * mixed corpus. Per-partition map; pixels never shuffle. */
  def resizePixels(media: Dataset[Media], maxDim: Int): Dataset[Media] = {
    import media.sparkSession.implicits._
    require(maxDim >= 1, s"maxDim must be >= 1, got $maxDim")
    media.mapPartitions { it =>
      it.map { m =>
        val img =
          if (m.payload == null || m.payload.isEmpty) null
          else try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(m.payload))
          catch { case _: Exception => null }
        if (img == null || math.max(img.getWidth, img.getHeight) <= maxDim) m
        else {
          val scale = maxDim.toDouble / math.max(img.getWidth, img.getHeight)
          val w = math.max(1, math.round(img.getWidth * scale).toInt)
          val h = math.max(1, math.round(img.getHeight * scale).toInt)
          val out = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, w, h, null)
          g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          m.copy(payload = bos.toByteArray)
        }
      }
    }
  }

  /** Planting cadence for the real-PNG rows in the registered mm2/mm5
    * corpus path — interpolated into the mm2 oracle. */
  private[graft] val PngMod = 50L

  /** Deterministic tiny PNG for doc_id ≡ 0 (mod [[PngMod]]): dims are
    * pure doc_id arithmetic (replayed by the mm2 oracle — if ImageIO
    * did NOT decode these, the stub fallback's byte-length arithmetic
    * on the compressed PNG bytes would produce different dims and the
    * value oracle fails loudly, so oracle green PROVES the real decode
    * path ran). Pixels are an 8×8 block pattern with per-(doc, cell)
    * hashed brightness, so planted aHashes are DECORRELATED — a shared
    * gradient would make every planted image a perceptual near-dup of
    * every other, an O(planted²) pair mass mm5 would drag to any
    * scale. */
  private[graft] def plantedPng(docId: Long): Array[Byte] = {
    val w = (16 + docId % 64).toInt
    val h = (16 + (docId * 3) % 48).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val cy = y * 8 / h
      var x = 0
      while (x < w) {
        val cell = cy * 8 + x * 8 / w
        val v = (((docId * 2654435761L + cell * 40503L) % 256 + 256) % 256).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** [[mediaOf]] with the planted deterministic PNGs swapped in — the
    * registered mm2/mm5 corpus path, so the REAL ImageIO decode runs
    * inside the oracle loop every round, not only in specs. */
  def mediaWithPlantedPng(spark: SparkSession, dir: String): Dataset[Media] = {
    import spark.implicits._
    mediaOf(spark, dir).map { m =>
      if (m.doc_id % PngMod == 0) m.copy(payload = plantedPng(m.doc_id)) else m
    }
  }

  /** MM8 — header-only metadata probe: format magic + declared
    * dimensions read straight off the payload BYTES (PNG signature,
    * IHDR width/height at fixed offsets, big-endian) with zero codec
    * involvement — the pass a 100 TB image corpus runs FIRST, because
    * it touches ≤24 bytes per object while a decode touches every
    * pixel; the header census (formats, dim distributions, corrupt
    * candidates) then decides what the expensive mm2 decode pass even
    * needs to read. Pure codegen column arithmetic
    * (substring/hex/conv), embarrassingly parallel, one source-keyed
    * aggregate.
    *
    * Runs over the planted-PNG corpus path, which makes it VALUE-
    * oracled: the planted dims are doc_id arithmetic, so the DuckDB
    * oracle recomputes expected sums from ids alone — a hash-match
    * PROVES the byte-level parse extracted exactly the dims the
    * generator encoded (the mm2 device, for headers). */
  def mm8HeaderProbe(spark: SparkSession, dir: String): DataFrame =
    headerProbe(mediaWithPlantedPng(spark, dir).toDF())

  /** The header-sniff kernel over any (doc_id, source, payload) frame. */
  def headerProbe(media: DataFrame): DataFrame = {
    val isPng =
      upper(hex(substring(col("payload"), 1, 8))) === lit("89504E470D0A1A0A")
    val w = conv(hex(substring(col("payload"), 17, 4)), 16, 10).cast("long")
    val h = conv(hex(substring(col("payload"), 21, 4)), 16, 10).cast("long")
    media
      .select(col("source"),
        when(isPng, 1L).otherwise(0L).as("png"),
        when(isPng, w).as("w"), when(isPng, h).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_payloads"),
        sum(col("png")).as("n_png"),
        coalesce(sum(col("w")), lit(0L)).as("sum_w"),
        coalesce(sum(col("h")), lit(0L)).as("sum_h"),
        coalesce(max(col("w")), lit(0L)).as("max_w"),
        coalesce(max(col("h")), lit(0L)).as("max_h"))
      .orderBy(col("source"))
  }

  /** MM2 — decoded-feature summary per media type, over the planted-PNG
    * corpus with the REAL decoder: planted rows take the ImageIO header
    * path (n_raster counts them; their dims must equal the planted
    * arithmetic for the oracle to hash-match), text-byte rows fall back
    * to the stub exactly as before. min_fp is computed over the
    * non-planted rows only — a PNG byte stream's md5 is not
    * SQL-replayable, and proving content identity is the text rows'
    * job. */
  def mm2DecodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    val planted = col("doc_id") % PngMod === 0
    decodeMeta(mediaWithPlantedPng(spark, dir), ImageIoDecoder)
      .withColumn("planted", planted)
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("width")), 2).as("avg_width"),
        round(avg(col("height")), 2).as("avg_height"),
        sum(col("n_frames")).as("total_frames"),
        sum(when(col("planted"), 1L).otherwise(0L)).as("n_raster"),
        coalesce(min(when(!col("planted"), col("fingerprint"))), lit(""))
          .as("min_fp"))
      .orderBy(col("media_type"))
  }

  /** MM3 — sampled-frame pointers for the first 50 docs (stride 4). */
  def mm3FrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sampleFrames(
      decodeMeta(mediaOf(spark, dir).filter(col("doc_id") < 50).as[Media]),
      stride = 4)
      .orderBy(col("doc_id"), col("frame_idx"))
      .toDF()
  }

  /** MM4 — cross-modal alignment filter, the CLIP-score-shaped quality
    * gate the multimodal tier feeds: each document joins its embedding
    * row by id and scores alignment as cosine against a broadcast
    * reference vector (vec_id 0 here; a production run passes the paired
    * other-modality encoder output), then reports the per-source keep
    * funnel at the alignment threshold. At 100 TB the doc↔embedding
    * join is fact↔fact — one shuffle by id, or zero if both tables are
    * pre-bucketed by id ([[graft.sources.Sources.writeBucketed]]); the
    * reference is a broadcast singleton. Scores are computed in double
    * and round(4) BEFORE thresholding/averaging so engine libm ulps
    * can't flip a keep decision; zero-norm embeddings yield NaN cosine
    * and are excluded (NaN-guarded like sim6). */
  def mm4AlignmentFilter(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    mm4AlignmentFilterDf(
      Tables.documents(spark, dir).filter(col("doc_id") =!= 0), emb,
      emb.filter(col("doc_id") === 0))
  }

  /** Same filter over caller-supplied frames: `refEmb` must hold exactly
    * one (.., embedding) row — the reference the whole corpus aligns
    * against. */
  def mm4AlignmentFilterDf(docs: DataFrame, emb: DataFrame,
                           refEmb: DataFrame): DataFrame = {
    val asD = (c: Column) => transform(c, x => x.cast("double"))
    val ref = refEmb.select(asD(col("embedding")).as("ref"))
    docs.select(col("doc_id"), col("source"))
      .join(emb.select(col("doc_id"), asD(col("embedding")).as("emb")), Seq("doc_id"))
      .crossJoin(broadcast(ref))
      .withColumn("align",
        round(graft.functions.VectorOps.vecCosine(col("emb"), col("ref")), 4))
      .filter(!isnan(col("align")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("align") >= 0.0, 1L).otherwise(0L)).as("n_kept"),
        round(avg(col("align")), 4).as("avg_align"))
      .orderBy(col("source"))
  }

  /** 64-bit average-hash (aHash) of a media payload — the perceptual
    * fingerprint image dedup runs where exact fingerprints (MM2's md5)
    * miss re-encoded/slightly-edited copies. When the decoder yields
    * pixels ([[MediaDecoder.gray64]] — [[ImageIoDecoder]] for JDK-codec
    * images), this IS real aHash: 8×8 grayscale block means thresholded
    * against their mean. Payloads with no decodable raster (and the
    * metadata-only [[FakeDecoder]], the registered default over the
    * text-bytes testdata) fall back to striping the raw bytes into 64
    * cells under the identical averages→threshold structure — still
    * genuinely tolerant of small byte edits. Null/empty payloads drop
    * (no media to hash). Pure per-partition map — no shuffle. */
  /** The 8×8 grayscale cell grid both perceptual hashes consume: the
    * decoder's real raster downsample when pixels exist, else the
    * byte-striping approximation under the identical grid structure. */
  private def cells64(decoder: MediaDecoder,
                      payload: Array[Byte]): Array[Double] =
    decoder.gray64(payload).getOrElse {
      val n = payload.length
      val sums = new Array[Long](64)
      val counts = new Array[Long](64)
      var i = 0
      while (i < n) {
        val cell = ((i.toLong * 64) / n).toInt
        sums(cell) += payload(i) & 0xff; counts(cell) += 1
        i += 1
      }
      Array.tabulate(64)(c =>
        if (counts(c) > 0) sums(c).toDouble / counts(c) else 0.0)
    }

  def perceptualHash(media: Dataset[Media],
                     decoder: MediaDecoder = FakeDecoder): DataFrame = {
    import media.sparkSession.implicits._
    media.filter((m: Media) => m.payload != null && m.payload.nonEmpty)
      .mapPartitions { it =>
        it.map { m =>
          val cells = cells64(decoder, m.payload)
          val mean = cells.sum / 64.0
          var h = 0L
          var c = 0
          while (c < 64) {
            if (cells(c) > mean) h |= (1L << c)
            c += 1
          }
          (m.doc_id, m.source, h)
        }
      }.toDF("doc_id", "source", "phash")
  }

  /** 64-bit DCT perceptual hash (pHash) — the frequency-domain sibling
    * of [[perceptualHash]]'s aHash, over the SAME 8×8 cell grid. The
    * orthonormal 2D DCT-II of the grid is taken, the DC term (pure
    * brightness) is EXCLUDED, and each of the 63 AC coefficients
    * contributes its SIGN bit. Sign over median-threshold (classic
    * pHash) is a deliberate choice: both are brightness-invariant (DC
    * dropped) and contrast-invariant (scaling by k>0 moves neither a
    * sign nor a median comparison), but under a LOCALIZED spectral
    * edit the median itself shifts and flips unrelated borderline
    * bits, while signs change only in the coefficients the edit
    * actually touches. A smooth brightness GRADIENT — the vignette/
    * re-grade edit class — is additive and separable, landing entirely
    * in the few row-0 odd coefficients (≤ 4 sign flips possible),
    * while the same edit drags many spatial cells across aHash's
    * global mean (MultimodalSpec plants exactly that pair: caught
    * here, missed by aHash). Pure per-partition map like aHash — the
    * DCT is 64×64 multiply-adds per payload, no shuffle. */
  def dctPerceptualHash(media: Dataset[Media],
                        decoder: MediaDecoder = FakeDecoder): DataFrame = {
    import media.sparkSession.implicits._
    // cos((2x+1)uπ/16) table, built once per partition
    media.filter((m: Media) => m.payload != null && m.payload.nonEmpty)
      .mapPartitions { it =>
        val cos = Array.tabulate(8, 8)((x, u) =>
          math.cos((2 * x + 1) * u * math.Pi / 16.0))
        val alpha = Array.tabulate(8)(u =>
          if (u == 0) math.sqrt(1.0 / 8) else math.sqrt(2.0 / 8))
        it.map { m =>
          val cells = cells64(decoder, m.payload)
          val f = new Array[Double](64) // F(u,v) at u*8+v
          var u = 0
          while (u < 8) {
            var v = 0
            while (v < 8) {
              var s = 0.0
              var r = 0
              while (r < 8) {
                var c = 0
                while (c < 8) {
                  s += cells(r * 8 + c) * cos(r)(u) * cos(c)(v)
                  c += 1
                }
                r += 1
              }
              f(u * 8 + v) = alpha(u) * alpha(v) * s
              v += 1
            }
            u += 1
          }
          var h = 0L
          var i = 1 // DC bit stays 0 — brightness-invariant by design
          while (i < 64) {
            // 1e-6 deadzone: a STRUCTURALLY zero coefficient (symmetric
            // raster) lands at ±1e-13 float noise whose sign varies
            // with pixel-level rounding — without the floor, two
            // encodings of one image disagree on exactly those bits.
            // 1e-6 is far above the noise and far below any perceptual
            // energy (cells are 0–255).
            if (f(i) > 1e-6) h |= (1L << i)
            i += 1
          }
          (m.doc_id, m.source, h)
        }
      }.toDF("doc_id", "source", "phash")
  }

  /** MM5 — perceptual near-dup detection over media payloads: the aHash
    * signatures feed EXACTLY d4's corpus-scaled Hamming-LSH kernel
    * ([[graft.ext.Dedup.hammingPairs]]: (b−3)-of-b block agreement keys
    * with `blocksFor(n)` growing b with the corpus), so the media tier
    * inherits the text tier's scale fix for free — one kernel, two
    * modalities. Reported per source (n_media, n_neardup_pairs keyed by
    * the pair's lower id) so the row set is never empty even on a
    * dup-free corpus. Runs over the planted-PNG corpus with the real
    * decoder, so the registered query exercises true raster aHash on
    * the planted rows (byte-stripe fallback on the rest). Rows-only:
    * the fallback stripe is engine-specific; the planted-pair semantics
    * and brute-force parity live in MultimodalSpec. */
  def mm5PerceptualNearDup(spark: SparkSession, dir: String): DataFrame =
    nearDupCensus(spark, dir,
      perceptualHash(mediaWithPlantedPng(spark, dir), ImageIoDecoder))

  /** MM9 — DCT near-dup detection: [[dctPerceptualHash]] signatures
    * through the SAME d4 Hamming-LSH kernel and per-source census as
    * mm5 — the third modality sharing one kernel (text simhash, media
    * aHash, media pHash). Exists beside mm5 because the two hashes
    * miss different edit classes: aHash survives crops-of-noise better,
    * pHash survives brightness/contrast re-grades (the planted
    * MultimodalSpec pair: a gradient-shifted duplicate pHash catches
    * and aHash misses). Rows-only like mm5 (the byte-stripe fallback is
    * engine-specific); planted-pair semantics + LSH ≡ brute parity in
    * MultimodalSpec. */
  def mm9DctNearDup(spark: SparkSession, dir: String): DataFrame =
    nearDupCensus(spark, dir,
      dctPerceptualHash(mediaWithPlantedPng(spark, dir), ImageIoDecoder))

  /** Shared mm5/mm9 tail: corpus-scaled Hamming-LSH pairs over a
    * (doc_id, source, phash) frame + the per-source census (row set
    * never empty, even on a dup-free corpus). */
  private def nearDupCensus(spark: SparkSession, dir: String,
                            hashes: DataFrame): DataFrame = {
    val pairs = Dedup.hammingPairs(hashes, "phash",
      blocks = Dedup.blocksFor(Dedup.docsCount(spark, dir)), maxHamming = 3)
    val bySrc = hashes.select(col("doc_id"), col("source"))
    pairs.join(bySrc.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_neardup_pairs"))
      .join(bySrc.groupBy(col("source")).agg(count(lit(1)).as("n_media")),
        Seq("source"), "right")
      .select(col("source"), col("n_media"),
        coalesce(col("n_neardup_pairs"), lit(0L)).as("n_neardup_pairs"))
      .orderBy(col("source"))
  }

  /** Shard byte budget shared with PackingSpec's conservation check. */
  private[graft] val Mm7ShardBytes = 16384L

  /** MM7 — training-shard manifest: pack media payloads into fixed-
    * byte-budget shards (the WebDataset/tar-shard planning pass a
    * multimodal dataloader runs before writing shards: sequential-read
    * friendliness comes from ~equal-sized archives, not per-sample
    * files — the same pathology s16's compaction repairs after the
    * fact, avoided here at plan time). Exactly d9's FFD kernel over
    * octet_length instead of token count — packing consumes only
    * (doc_id, n_bytes), payload bytes never shuffle, shard ids fuse
    * per partition. Rows-only like d9 (shard composition is partition-
    * layout-dependent; any valid packing is correct) with the kernel's
    * invariants pinned in PackingSpec, plus an mm7-specific
    * byte-conservation pin against mm1's independent totals. */
  def mm7ShardManifest(spark: SparkSession, dir: String): DataFrame = {
    val payloads = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"),
        expr("octet_length(payload)").cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0 && col("n_tokens") <= Mm7ShardBytes)
    Packing.packBins(payloads, Mm7ShardBytes).agg(
      count(lit(1)).as("n_shards"),
      sum(col("n_docs")).as("n_payloads"),
      sum(col("fill")).as("total_bytes"),
      round(avg(col("fill").cast("double") / Mm7ShardBytes), 4)
        .as("avg_fill_ratio"),
      max(col("fill")).as("max_fill"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm7_shard_manifest" -> mm7ShardManifest,
    "mm8_header_probe" -> mm8HeaderProbe,
    "mm5_perceptual_neardup" -> mm5PerceptualNearDup,
    "mm9_dct_neardup" -> mm9DctNearDup,
    "mm2_decode_features" -> mm2DecodeFeatures,
    "mm3_frame_sample" -> mm3FrameSample,
    "mm4_alignment_filter" -> mm4AlignmentFilter
  )

  /** The fake decode is pure arithmetic on octet_length + md5, so DuckDB
    * can replicate it exactly — the oracle verifies the whole decode →
    * extract → sample dataflow, not just row counts. */
  val oracle: Map[String, String] = Map(
    "mm8_header_probe" -> {
      // expected header dims recomputed from doc_id arithmetic alone —
      // the oracle never parses a byte; hash-match proves the Spark
      // side's byte-offset parse decoded the generator's encoding
      s"""WITH p AS (
        |  SELECT source,
        |    CASE WHEN doc_id % $PngMod = 0 THEN 1 ELSE 0 END AS png,
        |    CASE WHEN doc_id % $PngMod = 0
        |         THEN 16 + doc_id % 64 END AS w,
        |    CASE WHEN doc_id % $PngMod = 0
        |         THEN 16 + (doc_id * 3) % 48 END AS h
        |  FROM documents)
        |SELECT source, count(*) AS n_payloads,
        |  CAST(sum(png) AS BIGINT) AS n_png,
        |  CAST(coalesce(sum(w), 0) AS BIGINT) AS sum_w,
        |  CAST(coalesce(sum(h), 0) AS BIGINT) AS sum_h,
        |  CAST(coalesce(max(w), 0) AS BIGINT) AS max_w,
        |  CAST(coalesce(max(h), 0) AS BIGINT) AS max_h
        |FROM p GROUP BY source ORDER BY source""".stripMargin
    },
    "mm4_alignment_filter" ->
      """WITH ref AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS ref
        |  FROM embeddings WHERE vec_id = 0),
        |j AS (
        |  SELECT d.source,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ref), 4) AS align
        |  FROM documents d
        |  JOIN embeddings e ON d.doc_id = e.vec_id
        |  CROSS JOIN ref
        |  WHERE d.doc_id <> 0),
        |k AS (SELECT source, align FROM j WHERE NOT isnan(align))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN align >= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(avg(align), 4) AS avg_align
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    "mm2_decode_features" ->
      s"""WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) AS L, md5(text) AS fp,
        |    (doc_id % $PngMod = 0) AS planted
        |  FROM documents),
        |d AS (
        |  SELECT CASE WHEN planted THEN 'image'
        |              WHEN L % 3 = 0 THEN 'image'
        |              WHEN L % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    CASE WHEN planted THEN 16 + doc_id % 64
        |         ELSE 16 + L % 624 END AS width,
        |    CASE WHEN planted THEN 16 + (doc_id * 3) % 48
        |         ELSE 16 + (L * 7) % 464 END AS height,
        |    CASE WHEN planted THEN 1
        |         WHEN L % 3 = 0 THEN 1 ELSE 1 + L % 24 END AS n_frames,
        |    CASE WHEN planted THEN NULL ELSE fp END AS fp, planted
        |  FROM m)
        |SELECT media_type, count(*) AS n,
        |  round(avg(width), 2) AS avg_width,
        |  round(avg(height), 2) AS avg_height,
        |  CAST(sum(n_frames) AS BIGINT) AS total_frames,
        |  CAST(sum(CASE WHEN planted THEN 1 ELSE 0 END) AS BIGINT) AS n_raster,
        |  coalesce(min(fp), '') AS min_fp
        |FROM d GROUP BY media_type ORDER BY media_type""".stripMargin,
    "mm3_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) AS L, md5(text) AS fp
        |  FROM documents WHERE doc_id < 50),
        |d AS (
        |  SELECT doc_id, fp,
        |    CASE WHEN L % 3 = 0 THEN 1 ELSE 1 + L % 24 END AS nf
        |  FROM m)
        |SELECT doc_id,
        |  CAST(unnest(generate_series(0, nf - 1, 4)) AS INT) AS frame_idx,
        |  md5(fp || '_' || CAST(unnest(generate_series(0, nf - 1, 4)) AS INT)) AS frame_fp
        |FROM d ORDER BY doc_id, frame_idx""".stripMargin
  )
}
