package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.queries.GraftQuery

/** One media item: opaque binary payload + typed metadata — the multimodal
  * column pattern (image/audio/video as `binary` with a metadata struct). */
case class MediaRow(
    media_id: Long,
    kind: String,
    payload: Array[Byte],
    width: Int,
    height: Int)

/** Stub-decoded features for the GENERIC media table (whose payloads are
  * stand-in bytes, so its decode is a deterministic fake). The REAL codec
  * paths live below: q154/q155 decode genuine PNG via the JDK's imageio,
  * q156 parses genuine RIFF/WAV via javax.sound.sampled, and q174 walks a
  * genuine multi-frame animated-GIF container (LZW streams + frame
  * directory) as the video kind — every media kind now has a real codec
  * path; only long-GOP codecs (H.264 etc.) remain out of JDK reach. The
  * Spark plumbing (binary column, typed Dataset, partition-batched
  * extraction, schema) is identical across stub and real paths. */
case class MediaFeatures(
    media_id: Long,
    kind: String,
    n_bytes: Int,
    n_frames: Int,
    checksum: Long)

/** Multimodal-column operators: binary payloads with typed metadata, and a
  * partition-batched feature-extraction stage.
  *
  * `extractFeatures` is `mapPartitions` over a typed Dataset — the Scala
  * analog of `mapInPandas` batch plumbing: one decoder instantiation per
  * partition (where a real codec would be loaded once per task), rows
  * streamed through it. Narrow transformation — at 100 TB this is pure
  * map-side work that scales with partition count.
  */
/** Per-partition codec context, which keeps the multimodal walls linear
  * at sf10. The JDK's convenience entry points hide two per-call costs
  * that are invisible at sf0.1 and dominate at 100× on a CLEAN window
  * (they SHRINK under starvation, so a starved run looks faster):
  *
  *  - `AudioSystem.getAudioInputStream` / `AudioSystem.write` walk the
  *    service-provider registry through `JDK13Services.getProviders`, a
  *    `static synchronized` method — 32 executor threads doing it per ROW
  *    convoy on one lock exactly in proportion to how many of them are
  *    actually running;
  *  - `ImageIO.read`/`write`/`createImageInput(Output)Stream` default to
  *    `useCache=true`, which backs every stream with a TEMP FILE on disk —
  *    a create/write/delete per row.
  *
  * This class resolves each provider ONCE per partition (one registry walk,
  * outside the row loop) and uses explicit `MemoryCacheImage*Stream`s (no
  * registry, no temp file). The underlying codec classes are the very same
  * JDK implementations the convenience methods dispatch to, so every byte
  * and pixel is identical — MultimodalCodecSpec pins query-path outputs
  * against the original `ImageIO.read`/`AudioSystem` forms. Instances are
  * cheap (a few SPI lookups) and NOT thread-safe: one per partition.
  */
private[graft] final class MediaCodecs {
  import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
  // one registry walk per partition, not per row; keep the SPI and create
  // per-payload reader/writer instances (plain constructors, no registry)
  private val pngWriterSpi =
    javax.imageio.ImageIO.getImageWritersByFormatName("png").next().getOriginatingProvider
  private val pngReaderSpi =
    javax.imageio.ImageIO.getImageReadersByFormatName("png").next().getOriginatingProvider
  private val gifWriterSpi =
    javax.imageio.ImageIO.getImageWritersByFormatName("gif").next().getOriginatingProvider
  private val gifReaderSpi =
    javax.imageio.ImageIO.getImageReadersByFormatName("gif").next().getOriginatingProvider
  // the same provider list AudioSystem consults, resolved once: per payload
  // we probe providers in order with the same UnsupportedAudioFileException
  // contract as AudioSystem.getAudioInputStream
  private val audioReaders = {
    val it = java.util.ServiceLoader.load(
      classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val b = scala.collection.mutable.ArrayBuffer.empty[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) b += it.next()
    b.toSeq
  }
  private val audioWriters = {
    val it = java.util.ServiceLoader.load(
      classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    val b = scala.collection.mutable.ArrayBuffer.empty[javax.sound.sampled.spi.AudioFileWriter]
    while (it.hasNext) b += it.next()
    b.toSeq.filter(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
  }

  /** Encode an RGB image as PNG — same writer class `ImageIO.write` uses. */
  def writePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    val w = pngWriterSpi.createWriterInstance()
    try { w.setOutput(ios); w.write(img) } finally { w.dispose(); ios.close() }
    bos.toByteArray
  }

  def readPng(png: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = new MemoryCacheImageInputStream(new java.io.ByteArrayInputStream(png))
    val r = pngReaderSpi.createReaderInstance()
    try { r.setInput(iis, true, true); r.read(0) } finally { r.dispose(); iis.close() }
  }

  /** Synthesize the deterministic PNG for `id` — byte-identical to
    * [[Multimodal.synthPng]] (same JDK PNG writer, same default params). */
  def encodePng(id: Long): Array[Byte] = writePng(Multimodal.renderImage(id))

  /** Synthesize the deterministic animated GIF for `id` — byte-identical
    * to [[Multimodal.synthGif]]. */
  def encodeGif(id: Long): Array[Byte] = {
    val w = 8 + (id % 5).toInt; val h = 6 + (id % 4).toInt
    val nFrames = 4 + (id % 5).toInt
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    val writer = gifWriterSpi.createWriterInstance()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        writer.writeToSequence(
          new javax.imageio.IIOImage(Multimodal.renderFrame(id, f, w, h), null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  /** GIF reader over a payload; caller must `dispose()`/`close()` via
    * [[withGif]]. */
  def withGif[T](gif: Array[Byte])(f: javax.imageio.ImageReader => T): T = {
    val iis = new MemoryCacheImageInputStream(new java.io.ByteArrayInputStream(gif))
    val r = gifReaderSpi.createReaderInstance()
    try { r.setInput(iis, false); f(r) } finally { r.dispose(); iis.close() }
  }

  /** Synthesize the deterministic WAV for `id` — byte-identical to
    * [[Multimodal.synthWav]] (same JDK WAVE writer). */
  def encodeWav(id: Long): Array[Byte] = {
    val (ais, _) = Multimodal.renderPcm(id)
    val bos = new java.io.ByteArrayOutputStream()
    audioWriters.head.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** The provider that accepted the previous payload, tried FIRST on the
    * next one. This is the actual fix for the audio half of the sf10 wall
    * inflation: the ServiceLoader provider order puts the JDK's
    * SoftMidiAudioFileReader before the WAVE reader, and its per-call "is
    * this a MIDI file?" probe goes through `MidiSystem.getProviders` →
    * `JDK13Services.getProviders` — `static synchronized`. A 32-thread
    * self-sampled stack profile showed 91/96 worker samples BLOCKED on
    * that monitor (13 krows/s flat from 1 to 32 threads). With the
    * last-successful provider fronted, a homogeneous stream pays the
    * registry probe once per partition and the WAVE reader's lock-free
    * header parse per row (measured 48× on 32 threads). */
  private var lastAudioReader: javax.sound.sampled.spi.AudioFileReader = null

  /** Parse a WAV container — same provider-probing contract as
    * `AudioSystem.getAudioInputStream`, minus the per-call synchronized
    * registry walk (providers resolved once, adaptive ordering). */
  def openAudio(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val in = new java.io.ByteArrayInputStream(bytes)
    if (lastAudioReader != null) {
      try return lastAudioReader.getAudioInputStream(in)
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => in.reset() }
    }
    val it = audioReaders.iterator
    while (it.hasNext) {
      val p = it.next()
      try {
        val ais = p.getAudioInputStream(in)
        lastAudioReader = p
        return ais
      } catch { case _: javax.sound.sampled.UnsupportedAudioFileException => in.reset() }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "no cached provider accepts the payload")
  }
}

object Multimodal {

  // Never back ImageIO streams with temp FILES: the default useCache=true
  // creates/deletes a disk file per convenience-API call (synthPng/synthGif
  // and any spec-side ImageIO.read). The query hot paths construct
  // MemoryCacheImage*Streams explicitly (MediaCodecs); this flips the
  // remaining callers. Encoded bytes are unaffected — only the staging
  // buffer moves from disk to heap.
  javax.imageio.ImageIO.setUseCache(false)

  /** Derive a deterministic media table from `documents`: payload = UTF-8
    * bytes of the text (stands in for real image/audio bytes), kind cycles
    * image/audio/video, metadata derived from doc_id. */
  def media(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
                 (col("doc_id") % 3).cast("int") + 1).as("kind"),
      col("text").cast("binary").as("payload"),
      (col("doc_id") % 640).cast("int").as("width"),
      (col("doc_id") % 480).cast("int").as("height"))

  /** Raw-file multimodal ingest — Spark's native `binaryFile` source: one
    * row per file with (path, modificationTime, length, content: binary).
    * This is how real image/audio corpora enter the lake (the reference's
    * A1 front door, for opaque payloads); downstream the content column is
    * exactly the `payload` the feature extractors consume. The source
    * supports predicate pushdown on the metadata columns (e.g. a `length`
    * filter prunes without reading file bodies). */
  def readBinaryDir(s: SparkSession, dir: String, glob: String = "*"): DataFrame =
    s.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)

  /** STUB decode: byte length, fake frame count (1 frame per 100 bytes), and
    * a rolling byte checksum. A real deployment swaps `decode` for an actual
    * codec call; everything around it (batching, schema, partitioning) stays. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init would go here (codec handle, model, …)
      rows.map { m =>
        val decoded = decode(m.payload)
        MediaFeatures(m.media_id, m.kind, m.payload.length,
          m.payload.length / 100 + 1, decoded)
      }
    }
  }

  /** STUB resize: a real implementation decodes, scales to target
    * dimensions, re-encodes. The stub deterministically truncates/extends
    * the payload proportional to the pixel-count change so downstream size
    * accounting behaves like a real resize; metadata is updated for real. */
  def resize(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        val srcPixels = math.max(1, m.width * m.height)
        val scale = (w.toLong * h).toDouble / srcPixels
        val newLen = math.max(1, math.min((m.payload.length * scale).toInt, 1 << 20))
        m.copy(payload = java.util.Arrays.copyOf(m.payload, newLen),
               width = w, height = h)
      }
    }
  }

  /** STUB frame sampling for video-kind rows: emit every `stride`-th
    * 100-byte "frame" of the payload as its own row (media_id, frame_idx,
    * frame bytes) — the explode shape a real video pipeline needs, with the
    * codec swapped for deterministic slicing. */
  def sampleFrames(media: Dataset[MediaRow], stride: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { m =>
      val frames = m.payload.grouped(100).toSeq
      frames.indices.collect {
        case i if i % stride == 0 => (m.media_id, i, frames(i))
      }
    }.toDF("media_id", "frame_idx", "frame")
  }

  /** Deterministic fake decoder (polynomial byte hash). */
  private def decode(payload: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < payload.length) { h = h * 31 + (payload(i) & 0xff); i += 1 }
    h
  }

  /** Q42 — feature-extraction profile per kind. Byte/frame columns are
    * oracle-checked (payload length is observable to DuckDB via
    * `encode(text)`); the checksum exercises the stub decoder end-to-end and
    * is verified in MultimodalSpec. */
  def featureProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val feats = extractFeatures(media(s, d).as[MediaRow])
    feats.groupBy("kind")
      .agg(count(lit(1)).as("n_items"),
           round(avg(col("n_bytes")), 4).as("avg_bytes"),
           sum(col("n_frames")).as("total_frames"))
  }

  val featureProfileSql: String =
    """SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  count(*) AS n_items,
      |  round(avg(octet_length(encode(text))), 4) AS avg_bytes,
      |  CAST(sum(octet_length(encode(text)) // 100 + 1) AS BIGINT) AS total_frames
      |FROM documents GROUP BY 1""".stripMargin

  /** q119 — frame-sampling profile: every 3rd 100-byte "frame" of each
    * video payload (stub codec, real explode shape — see sampleFrames).
    * The sampled-frame count per video is ⌈⌈bytes/100⌉/3⌉, which DuckDB
    * can state from the text length — so the stub pipeline is
    * oracle-checked end-to-end, not just spec'd. */
  def frameSampleProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = media(s, d)
    val frames = sampleFrames(m.as[MediaRow], 3)
    // count videos from the MEDIA table, not the frame output: a zero-byte
    // payload emits no frames and would otherwise vanish from n_videos
    // while the oracle (which counts documents) still sees it
    val vids = m.filter(col("kind") === "video").select("media_id")
    vids.join(frames.groupBy("media_id").agg(count(lit(1)).as("n_sampled")),
        Seq("media_id"), "left")
      .agg(count(lit(1)).as("n_videos"),
        sum(coalesce(col("n_sampled"), lit(0L))).as("total_sampled"),
        max(coalesce(col("n_sampled"), lit(0L))).as("max_sampled"))
  }

  val frameSampleProfileSql: String =
    """SELECT count(*) AS n_videos,
      |  CAST(sum(ceil(ceil(octet_length(encode(text)) / 100.0) / 3.0)) AS BIGINT)
      |    AS total_sampled,
      |  CAST(max(ceil(ceil(octet_length(encode(text)) / 100.0) / 3.0)) AS BIGINT)
      |    AS max_sampled
      |FROM documents WHERE doc_id % 3 = 2""".stripMargin

  /** q120 — resize accounting: run the (stub) 320×240 resize over the
    * media table and profile the payload-size change per kind. The stub's
    * length arithmetic (len·(320·240)/max(1, w·h), clamped to [1, 1 MiB],
    * truncated) is restated exactly in the oracle from the documents
    * columns, so the typed mapPartitions path is hash-checked end-to-end. */
  def resizeProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    resize(media(s, d).as[MediaRow], 320, 240)
      .groupBy("kind")
      .agg(count(lit(1)).as("n_items"),
        sum(length(col("payload"))).as("total_bytes"),
        max(length(col("payload"))).cast("long").as("max_bytes"))
  }

  val resizeProfileSql: String =
    """WITH m AS (
      |  SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |              ELSE 'video' END AS kind,
      |         GREATEST(1, LEAST(CAST(trunc(octet_length(encode(text)) *
      |             (76800.0 / GREATEST(1, (doc_id % 640) * (doc_id % 480)))) AS BIGINT),
      |           1048576)) AS n_bytes
      |  FROM documents)
      |SELECT kind, count(*) AS n_items,
      |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes, max(n_bytes) AS max_bytes
      |FROM m GROUP BY kind""".stripMargin

  // ---------------------------------------------------------------- real codecs
  /** REAL image and audio decode — the upgrade of this file's stub
    * boundary, using the codecs the JDK itself ships: `javax.imageio`
    * (PNG, lossless, headless-safe) and `javax.sound.sampled` (WAV/PCM).
    * The payloads are genuine compressed PNG / RIFF-WAV bytes synthesized
    * from closed-form pixel/sample functions of the media id (the corpus
    * stands in for an image/audio store), flowed through a true `binary`
    * column, and the features come from genuinely DECODED pixels/samples —
    * MultimodalCodecSpec proves the decode is real by checking the decoded
    * values pixel-for-pixel / byte-for-byte against the closed form
    * (losslessness is what makes the pinned goldens deterministic). Video
    * remains the one stubbed kind: the JDK ships no video codec, and that
    * boundary stays documented above (sampleFrames).
    *
    * Scale shape: codec work is pure map-side `mapPartitions` (decoder
    * state per partition, rows streamed) — the same narrow-transformation
    * contract as extractFeatures; the only shuffle is the final profile
    * aggregation on a tiny key domain. Integer Rec.601 luma (×1000) and
    * integer sample sums keep every statistic exact, so results are
    * partition-independent. */
  private val LumaR = 299L; private val LumaG = 587L; private val LumaB = 114L

  private[graft] def pixel(id: Long, x: Int, y: Int): Int = {
    val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
    val g = ((id * 17 + x * 11 + y * 3) % 256).toInt
    val b = ((id * 23 + x * 5 + y * 19) % 256).toInt
    (r << 16) | (g << 8) | b
  }

  /** Deterministic synthetic PNG: (8 + id%8) × (6 + id%7) RGB pixels from
    * `pixel(id, x, y)`, encoded with the JDK PNG writer — real compressed
    * image bytes (the byte stream itself varies by writer version; every
    * DECODED statistic is exact because PNG is lossless). Dim moduli are
    * coprime to the kind selector's mod 3, so image-kind ids (≡0 mod 3)
    * still cover every width/height. */
  /** The deterministic (8 + id%8) × (6 + id%7) RGB raster behind synthPng —
    * shared with the per-partition [[MediaCodecs.encodePng]] path. */
  private[graft] def renderImage(id: Long): java.awt.image.BufferedImage = {
    val w = 8 + (id % 8).toInt; val h = 6 + (id % 7).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, pixel(id, x, y)); x += 1 }
      y += 1
    }
    img
  }

  def synthPng(id: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(renderImage(id), "png", bos)
    bos.toByteArray
  }

  /** (n_pixels, Σ integer Rec.601 luma ×1000) over a decoded image. */
  private def lumaStats(img: java.awt.image.BufferedImage): (Long, Long) = {
    var sum = 0L; var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        sum += LumaR * ((p >> 16) & 0xff) + LumaG * ((p >> 8) & 0xff) +
          LumaB * (p & 0xff)
        x += 1
      }
      y += 1
    }
    (img.getWidth.toLong * img.getHeight, sum)
  }

  /** REAL nearest-neighbor resize on decoded pixels — deterministic integer
    * source indexing (x·sw/dw, y·sh/dh), no Graphics2D interpolation (whose
    * rounding could drift across JVM versions). */
  private[graft] def resizeNearest(src: java.awt.image.BufferedImage,
                                 w: Int, h: Int): java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out.setRGB(x, y,
          src.getRGB(x * src.getWidth / w, y * src.getHeight / h))
        x += 1
      }
      y += 1
    }
    out
  }

  /** q154 — REAL image decode profile: image-kind media ids → genuine PNG
    * payloads (binary column) → `ImageIO.read` decode → per-width luma
    * accounting on the decoded pixels. Pinned golden (DuckDB has no PNG
    * codec); the decode's realness is proven in MultimodalCodecSpec. */
  def imageDecodeProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // one codec context per partition (registry walk + provider resolution
    // hoisted out of the row loop — see MediaCodecs); encode and decode are
    // the same JDK PNG writer/reader classes ImageIO dispatches to
    media(s, d).filter(col("kind") === "image")
      .select(col("media_id")).as[Long]
      .mapPartitions { ids =>
        val codec = new MediaCodecs
        ids.map { id =>
          val img = codec.readPng(codec.encodePng(id))
          val (np, luma) = lumaStats(img)
          (id, img.getWidth, img.getHeight, np, luma)
        }
      }.toDF("media_id", "width", "height", "n_pixels", "luma_sum")
      .groupBy("width")
      .agg(count(lit(1)).as("n_images"),
        sum("n_pixels").as("n_pixels"),
        sum("luma_sum").as("luma_sum"),
        // mean luma in [0,255]: floor-spelled rounding on the exact sums
        (floor(sum("luma_sum").cast("double") / sum("n_pixels") / 1000.0
          * 10000 + 0.5) / 10000.0).as("mean_luma"))
  }

  /** q155 — REAL decode → nearest-neighbor resize to 8×6 → re-profile the
    * RESIZED pixels. The resize reads genuinely decoded pixels; the spec
    * checks the resized output against the closed form at the sampled
    * coordinates. */
  def imageResizeProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d).filter(col("kind") === "image")
      .select(col("media_id")).as[Long]
      .mapPartitions { ids =>
        val codec = new MediaCodecs
        ids.map { id =>
          val img = codec.readPng(codec.encodePng(id))
          val (_, luma) = lumaStats(resizeNearest(img, 8, 6))
          (id, img.getWidth, luma)
        }
      }.toDF("media_id", "src_width", "luma_sum")
      .groupBy("src_width")
      .agg(count(lit(1)).as("n_images"),
        sum("luma_sum").as("luma_sum"),
        (floor(sum("luma_sum").cast("double") / (count(lit(1)) * 48) / 1000.0
          * 10000 + 0.5) / 10000.0).as("mean_luma"))
  }

  /** Deterministic synthetic WAV: mono 16-bit PCM, (40 + id%50) samples at
    * 8/10/12/14/16 kHz (mod 5 — coprime to the kind selector's mod 3, so
    * audio-kind ids cover every rate), sample i = (id·7919 + i·104729)
    * mod 65536 − 32768; encoded as a real RIFF/WAVE container by the JDK
    * audio system. */
  /** The deterministic raw PCM stream behind synthWav — shared with the
    * per-partition [[MediaCodecs.encodeWav]] path. */
  private[graft] def renderPcm(id: Long): (javax.sound.sampled.AudioInputStream, Int) = {
    import javax.sound.sampled._
    val n = 40 + (id % 50).toInt
    val rate = 8000f + 2000f * (id % 5)
    val pcm = new Array[Byte](2 * n)
    var i = 0
    while (i < n) {
      val s = (((id * 7919 + i.toLong * 104729) % 65536) - 32768).toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    (new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n.toLong), n)
  }

  def synthWav(id: Long): Array[Byte] = {
    import javax.sound.sampled._
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(renderPcm(id)._1, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** q156 — REAL audio decode profile: audio-kind ids → genuine WAV bytes →
    * `AudioSystem` parse (format + frame count from the RIFF header, PCM
    * payload re-read through the codec) → per-rate sample accounting.
    * Pinned golden; byte-exactness proven in MultimodalCodecSpec. */
  def audioDecodeProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d).filter(col("kind") === "audio")
      .select(col("media_id")).as[Long]
      .mapPartitions { ids =>
        val codec = new MediaCodecs
        ids.map { id =>
          val wav = codec.encodeWav(id)
          val ais = codec.openAudio(wav)
          val rate = ais.getFormat.getSampleRate.toInt
          val frames = ais.getFrameLength
          val pcm = ais.readAllBytes()
          var sumAbs = 0L; var i = 0
          while (i < pcm.length / 2) {
            val v = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort
            sumAbs += math.abs(v.toLong); i += 1
          }
          (id, rate, frames, sumAbs)
        }
      }.toDF("media_id", "sample_rate", "n_frames", "sum_abs")
      .groupBy("sample_rate")
      .agg(count(lit(1)).as("n_clips"),
        sum("n_frames").as("total_frames"),
        sum("sum_abs").as("sum_abs"))
  }

  /** Deterministic synthetic "video": an animated GIF of 4 + id%5 full
    * RGB frames, (8 + id%5) × (6 + id%4), frame f's pixels from
    * `pixel(id * 131 + f, x, y)`, written with the JDK GIF writer in
    * sequence mode. GIF's 256-entry color table is LOSSLESS here — each
    * frame holds ≤ 12·9 = 108 distinct colors — so decoded RGB is
    * bit-exact against the closed form (MultimodalCodecSpec proves it).
    * This upgrades the video kind from stub to a real multi-frame
    * temporal container: a genuine compressed stream (LZW), a frame
    * directory the reader must walk, and per-frame decode. */
  /** Frame f of video id — pixels from `pixel(id·131 + f, x, y)`; shared
    * with the per-partition [[MediaCodecs.encodeGif]] path. */
  private[graft] def renderFrame(id: Long, f: Int, w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, pixel(id * 131 + f, x, y)); x += 1 }
      y += 1
    }
    img
  }

  private[graft] def synthGif(id: Long): Array[Byte] = {
    val w = 8 + (id % 5).toInt; val h = 6 + (id % 4).toInt
    val nFrames = 4 + (id % 5).toInt
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames) {
      writer.writeToSequence(
        new javax.imageio.IIOImage(renderFrame(id, f, w, h), null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** q174 — REAL video decode + frame sampling: video-kind ids → animated
    * GIF payloads → ImageIO GIF reader (frame count from the container
    * directory, every 2nd frame decoded) → per-frame-count luma
    * accounting. The sampled-stride decode is the real shape of video
    * feature extraction (decode cost scales with frames READ, not frames
    * present). Pinned golden; frame-exactness proven in
    * MultimodalCodecSpec. Same mapPartitions batch contract as
    * q154-q156 — pure map-side codec work, no shuffle grows with data. */
  def videoFramesProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stride = 2
    media(s, d).filter(col("kind") === "video")
      .select(col("media_id")).as[Long]
      .mapPartitions { ids =>
        val codec = new MediaCodecs
        ids.map { id =>
          codec.withGif(codec.encodeGif(id)) { reader =>
            val n = reader.getNumImages(true)
            var idx = 0; var sampled = 0; var np = 0L; var luma = 0L
            while (idx < n) {
              if (idx % stride == 0) {
                val (p, l) = lumaStats(reader.read(idx))
                np += p; luma += l; sampled += 1
              }
              idx += 1
            }
            (id, n, sampled, np, luma)
          }
        }
      }.toDF("media_id", "n_frames", "n_sampled", "n_pixels", "luma_sum")
      .groupBy("n_frames")
      .agg(count(lit(1)).as("n_videos"),
        sum("n_sampled").as("n_sampled"),
        sum("n_pixels").as("n_pixels"),
        sum("luma_sum").as("luma_sum"),
        (floor(sum("luma_sum").cast("double") / sum("n_pixels") / 1000.0
          * 10000 + 0.5) / 10000.0).as("mean_luma"))
  }

  /** q193 — REAL spectral feature extraction: decoded PCM → [[DftN]]-point
    * naive DFT over bins 1..[[DftBins]] → dominant-bin detection — the
    * audio analogue of q155's pixel resample (decode THEN numeric
    * transform), and the shape every audio-quality filter (silence/tone
    * detection, bandwidth estimation) takes before a 100 TB audio corpus
    * is admitted. Per-clip work is a fixed 32×8 multiply-accumulate —
    * pure map-side inside the same codec `mapPartitions` loop as q156,
    * zero data-dependent shuffle.
    *
    * Determinism protocol: trig via `StrictMath` (bit-identical across
    * JVMs/platforms, unlike `Math`'s intrinsics); per-clip powers are
    * floor'd to Long BEFORE the group-by so every cross-row aggregate is
    * integer (order-independent) — the q174 mean-luma lesson. Pinned
    * golden; bin powers are per-row fixed-order accumulation, verified
    * bit-stable across 2/4/8-CPU dumps. */
  private val DftN = 32
  private val DftBins = 8

  /** (dominant bin, floor(peak power), floor(total power)) of the first
    * [[DftN]] little-endian 16-bit PCM samples — the per-clip kernel,
    * exposed for the pure-tone correctness spec. */
  private[graft] def dftProfile(pcm: Array[Byte]): (Int, Long, Long) = {
    val n = math.min(DftN, pcm.length / 2)
    val x = new Array[Double](DftN)
    var i = 0
    while (i < n) {
      x(i) = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toDouble
      i += 1
    }
    var best = 1; var bestP = -1.0; var total = 0.0
    var k = 1
    while (k <= DftBins) {
      var re = 0.0; var im = 0.0; var j = 0
      while (j < DftN) {
        val ang = -2.0 * StrictMath.PI * k * j / DftN
        re += x(j) * StrictMath.cos(ang)
        im += x(j) * StrictMath.sin(ang)
        j += 1
      }
      val p = re * re + im * im
      total += p
      if (p > bestP) { bestP = p; best = k }
      k += 1
    }
    (best, StrictMath.floor(bestP).toLong, StrictMath.floor(total).toLong)
  }

  def audioSpectrumProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d).filter(col("kind") === "audio")
      .select(col("media_id")).as[Long]
      .mapPartitions { ids =>
        val codec = new MediaCodecs
        ids.map { id =>
          val ais = codec.openAudio(codec.encodeWav(id))
          val rate = ais.getFormat.getSampleRate.toInt
          val (best, peak, total) = dftProfile(ais.readAllBytes())
          (id, rate, best, peak, total)
        }
      }.toDF("media_id", "sample_rate", "dom_bin", "peak_power", "total_power")
      .groupBy("sample_rate", "dom_bin")
      .agg(count(lit(1)).as("n_clips"),
        sum("peak_power").as("sum_peak"),
        sum("total_power").as("sum_power"))
  }

  /** q225 — media payload-profile: per kind, row count, Σ media_id (the
    * id-set anchor — payloads are synthesized deterministically from ids,
    * so media identity ≡ id-set identity), Σ declared content units
    * (closed-form pixel/sample/frame-pixel counts from the id moduli),
    * and Σ REAL encoded payload bytes. Purpose: corpus regen drift for
    * the binary-column tables becomes CHECKABLE per scale, so a multimodal
    * wall change can be attributed to corpus drift or to code. The first three columns pin the id set (drift there =
    * GenData change); payload_bytes additionally pins the encoder path
    * (drift there with a stable id set = codec/JDK change). Pinned golden
    * at sf0.01 + scale goldens per decade after bit-stability diff. */
  def payloadProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d).select(col("media_id"), col("kind")).as[(Long, String)]
      .mapPartitions { rows =>
        val codec = new MediaCodecs
        rows.map { case (id, kind) =>
          val bytes = kind match {
            case "image" => codec.encodePng(id).length.toLong
            case "audio" => codec.encodeWav(id).length.toLong
            case _       => codec.encodeGif(id).length.toLong
          }
          val decl = kind match {
            case "image" => (8 + id % 8) * (6 + id % 7)
            case "audio" => 40 + id % 50
            case _       => (8 + id % 5) * (6 + id % 4) * (4 + id % 5)
          }
          (kind, id, decl, bytes)
        }
      }
      .toDF("kind", "media_id", "decl", "bytes")
      .groupBy("kind")
      .agg(count(lit(1)).as("n_items"),
        sum("media_id").as("sum_id"),
        sum("decl").as("decl_units"),
        sum("bytes").as("payload_bytes"))
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q42_multimodal_features", featureProfile _, Some(featureProfileSql)),
    GraftQuery("q119_frame_sample", frameSampleProfile _, Some(frameSampleProfileSql)),
    GraftQuery("q120_resize_profile", resizeProfile _, Some(resizeProfileSql)),
    GraftQuery("q154_image_decode", imageDecodeProfile _,
      Some(graft.core.Goldens.load("q154_image_decode"))),
    GraftQuery("q155_image_resize", imageResizeProfile _,
      Some(graft.core.Goldens.load("q155_image_resize"))),
    GraftQuery("q156_audio_decode", audioDecodeProfile _,
      Some(graft.core.Goldens.load("q156_audio_decode"))),
    GraftQuery("q174_video_frames", videoFramesProfile _,
      Some(graft.core.Goldens.load("q174_video_frames"))),
    GraftQuery("q193_audio_spectrum", audioSpectrumProfile _,
      Some(graft.core.Goldens.load("q193_audio_spectrum"))),
    GraftQuery("q225_media_payload_profile", payloadProfile _,
      Some(graft.core.Goldens.load("q225_media_payload_profile"))))
}
