package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal-column plumbing (LLM-pipeline north star): media payloads as
  * opaque `binary` columns with typed metadata, and batched feature
  * extraction via `mapPartitions` over a typed Dataset — the Scala analog
  * of a Pandas-UDF/`mapInPandas` stage.
  *
  * The decode steps are REAL codecs, all JVM-shipped with zero
  * dependencies: [[Multimodal.decodeImage]] / [[Multimodal.resizeImage]]
  * run `javax.imageio` (PNG/JPEG/BMP/GIF), [[Multimodal.decodeWav]]
  * parses RIFF/PCM audio, and [[Multimodal.splitMjpeg]] splits
  * motion-JPEG video into frames that decode through the still-image
  * codec — FunctionsSpec drives each with in-test-generated media.
  * Payloads a codec cannot decode (opaque formats, corrupt bytes — and
  * the fixture's synthetic payloads) fall back to deterministic
  * byte-level features ([[Multimodal.decodeStub]] / raw s16le /
  * byte-chunk frames), the quarantine-not-crash behavior a production
  * ingest wants. The surrounding plumbing — the
  * binary schema, metadata projection, batch shape, partition-local
  * iteration, output schema — is shared by both branches: swap in a
  * JNI/ONNX decoder for more formats and nothing else moves.
  *
  * Scale posture: payload bytes never shuffle — metadata queries prune to
  * scalar columns at the scan, and feature extraction is partition-local
  * (mapPartitions) with bounded batch memory ([[BatchSize]] rows), exactly
  * how a GPU-batched decode would want its input.
  */
object Multimodal {
  import QueryDef.{rowsOnly, sql}

  val BatchSize = 64

  final case class MediaRow(doc_id: Long, payload: Array[Byte], format: String, width: Long, height: Long)
  final case class MediaFeatures(doc_id: Long, n_bytes: Int, mean_byte: Float, max_byte: Float, f_len: Float)

  private val formats = Seq("jpeg", "png", "webp")

  /** Documents as a media table: payload = utf-8 bytes standing in for an
    * encoded image; metadata derived deterministically from the fixture
    * columns (so the oracle can reproduce it). */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(s, dir)).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      element_at(
        array(formats.map(lit): _*),
        (expr("CAST(substr(source, 4, 10) AS INT)") % 3 + 1).cast("int")).as("format"),
      (lit(64L) + col("n_chars") % 512).as("width"),
      (lit(64L) + (col("doc_id") * 31) % 512).as("height"))

  final case class DecodedImage(width: Int, height: Int, meanLuma: Float)

  /** Decode through an explicit in-memory ImageInputStream: ImageIO's
    * default stream is disk-cache-backed (one temp file per read() of a
    * raw InputStream). Constructing the MemoryCacheImageInputStream per
    * read scopes that choice to THIS pipeline — the alternative,
    * `ImageIO.setUseCache(false)`, mutates process-global JVM state as
    * a classload side effect for any co-resident ImageIO user. */
  private def readImage(payload: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    // ImageIO.read(ImageInputStream) closes the stream itself once a
    // reader claims it (its finally block) — a second close throws
    // IOException("closed"). The tolerant close below covers only the
    // no-reader path, where read() returns null with the stream open.
    try javax.imageio.ImageIO.read(iis)
    finally try iis.close() catch { case _: java.io.IOException => () }
  }

  /** Container sniff: true when the payload leads with the magic bytes
    * of a format the JVM's shipped codecs handle (PNG/JPEG/GIF/BMP).
    * Decode dispatch MUST be driven by this, not by trial decode —
    * `ImageIO.read` walks every registered reader probing the stream,
    * which at corpus scale charges a full codec negotiation to every
    * non-image payload (measured ~4 s of the q44 bench before the
    * sniff; the sniff is four byte compares). */
  def looksLikeImage(p: Array[Byte]): Boolean =
    p.length >= 4 && (
      (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
      (p(0) == 0xFF.toByte && p(1) == 0xD8.toByte) ||
      (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') ||
      (p(0) == 'B' && p(1) == 'M'))

  /** REAL image decode via `javax.imageio` — the codecs the JVM ships
    * (PNG, JPEG, BMP, GIF — WBMP is registered too but has no reliable
    * magic bytes, so the sniff doesn't route to it), no external
    * dependency. Returns None
    * for payloads that are not decodable images (sniffed first — see
    * [[looksLikeImage]]), so callers can fall back to byte-level
    * features; a production pipeline would route those rows to a
    * quarantine/metrics sink instead of failing the stage. Mean
    * luminance averages (r+g+b)/3 over all pixels. */
  def decodeImage(payload: Array[Byte]): Option[DecodedImage] =
    if (!looksLikeImage(payload)) None
    else try {
      val img = readImage(payload)
      if (img == null) None
      else {
        var sum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        val n = math.max(img.getWidth.toLong * img.getHeight * 3, 1L)
        Some(DecodedImage(img.getWidth, img.getHeight, (sum.toDouble / n).toFloat))
      }
    } catch { case _: Exception => None }

  /** REAL image resize: decode, rescale through Graphics2D (bilinear),
    * re-encode as PNG. None when the payload isn't a decodable image
    * (same sniff-before-decode dispatch as [[decodeImage]]). */
  def resizeImage(payload: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
    if (!looksLikeImage(payload)) None
    else try Option(readImage(payload)).map { img =>
      val out = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", buf)
      buf.toByteArray
    } catch { case _: Exception => None }

  /** Byte-level fallback features for payloads the codec cannot decode
    * (opaque/corrupt media, or the fixture's synthetic payloads).
    * Deterministic over the payload bytes. */
  def decodeStub(payload: Array[Byte]): (Float, Float, Float) = {
    var sum = 0L; var mx = 0
    var i = 0
    while (i < payload.length) {
      val b = payload(i) & 0xff
      sum += b; if (b > mx) mx = b
      i += 1
    }
    val n = math.max(payload.length, 1)
    ((sum.toDouble / n).toFloat, mx.toFloat, payload.length.toFloat / 255f)
  }

  /** Batched feature extraction: partition-local, [[BatchSize]] rows per
    * model call — the `mapInPandas` shape with a Scala iterator. The
    * decode itself is REAL ([[decodeImage]], javax.imageio): decodable
    * payloads yield true pixel statistics; everything else takes the
    * byte-level fallback — which is what the synthetic fixture payloads
    * exercise, keeping the oracle a pure function of the fixture. The
    * structural columns (`n_bytes`, `f_len`) are payload-length
    * functions on BOTH branches, so q44a's hash oracle holds no matter
    * which branch a row takes. */
  def extractFeatures(s: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import s.implicits._
    mediaTable(s, dir).as[MediaRow].mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        // one "model invocation" per batch: a real decoder would receive
        // the whole Array[Array[Byte]] here (GPU-friendly batch shape)
        batch.map { r =>
          val (mean, mx, fl) = decodeImage(r.payload) match {
            case Some(d) => (d.meanLuma, math.max(d.width, d.height).toFloat,
              r.payload.length / 255f)
            case None => decodeStub(r.payload)
          }
          MediaFeatures(r.doc_id, r.payload.length, mean, mx, fl)
        }
      }
    }
  }

  /** STUB resize — stands in for an image rescale: strided byte sampling
    * down to a fixed 32×32 "thumbnail" payload. Deterministic; the real
    * implementation would swap in a codec call with the same signature. */
  def resizeStub(payload: Array[Byte], outBytes: Int = 1024): Array[Byte] = {
    if (payload.isEmpty) Array.emptyByteArray
    else {
      val out = new Array[Byte](math.min(outBytes, payload.length))
      val stride = payload.length.toDouble / out.length
      var i = 0
      while (i < out.length) { out(i) = payload((i * stride).toInt); i += 1 }
      out
    }
  }

  final case class FrameFeature(doc_id: Long, frame_idx: Int, frame_bytes: Int, frame_mean: Float)

  private val FrameSize = 256
  private val SampleEvery = 4

  /** MJPEG sniff: a JPEG SOI marker opens the payload. UTF-8 text can
    * never lead with 0xFF, so the synthetic fixture always takes the
    * chunking fallback and q53's structural oracle holds. */
  def looksLikeMjpeg(p: Array[Byte]): Boolean =
    p.length >= 2 && p(0) == 0xFF.toByte && p(1) == 0xD8.toByte

  /** REAL MJPEG frame split: motion-JPEG is concatenated baseline
    * JPEGs, so frames are delimited by SOI (FFD8) / EOI (FFD9) marker
    * pairs — each recovered frame decodes through the same
    * `javax.imageio` codec as still images ([[decodeImage]]). Entropy-
    * coded data byte-stuffs 0xFF as FF00, so markers can't appear
    * inside a scan; frames carrying embedded-thumbnail SOIs (never
    * produced by ImageIO) would split early — the quarantine rule then
    * yields an undecodable fragment, not a crash. */
  def splitMjpeg(p: Array[Byte]): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var i = 0
    var start = -1
    while (i + 1 < p.length) {
      if (p(i) == 0xFF.toByte) {
        val m = p(i + 1) & 0xff
        if (m == 0xD8 && start < 0) start = i
        else if (m == 0xD9 && start >= 0) {
          out += java.util.Arrays.copyOfRange(p, start, i + 2)
          start = -1
        }
      }
      i += 1
    }
    out.result()
  }

  /** Per-payload frame features, sniff-dispatched like every decode in
    * this module: an MJPEG payload splits into REAL frames, each pushed
    * through the JPEG codec for true per-frame luminance; anything else
    * chunks into [[FrameSize]]-byte pseudo-frames with byte-level
    * features (the fixture path, which keeps q53's oracle a pure
    * function of the payload length). Both paths keep every
    * [[SampleEvery]]-th frame — the sampling is the operator, the codec
    * is a branch. */
  def frameFeaturesOf(docId: Long, payload: Array[Byte]): Iterator[FrameFeature] = {
    val frames: Iterator[(Array[Byte], Int)] =
      if (looksLikeMjpeg(payload)) splitMjpeg(payload).iterator.zipWithIndex
      else payload.grouped(FrameSize).zipWithIndex
    frames
      .filter { case (_, idx) => idx % SampleEvery == 0 }
      .map { case (frame, idx) =>
        val mean = decodeImage(frame).map(_.meanLuma)
          .getOrElse(decodeStub(frame)._1)
        FrameFeature(docId, idx, frame.length, mean)
      }
  }

  /** Frame sampling over the media table — one row per sampled frame
    * (the one-to-many batch shape a video decoder produces), partition-
    * local like [[extractFeatures]]; batches of [[BatchSize]] payloads
    * per call. Real MJPEG payloads decode for real; see
    * [[frameFeaturesOf]]. */
  def sampleFrames(s: SparkSession, dir: String): Dataset[FrameFeature] = {
    import s.implicits._
    mediaTable(s, dir).as[MediaRow].mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.flatMap(r => frameFeaturesOf(r.doc_id, r.payload))
      }
    }
  }

  // ---------------------------------------------------------------- audio

  final case class AudioWindow(doc_id: Long, window_idx: Long,
                               n_samples: Long, sum_sq: Long, zero_crossings: Long)

  /** Samples per analysis window for [[audioWindows]]. */
  val WindowSamples = 256

  /** Container sniff for RIFF/WAVE — same dispatch rule as
    * [[looksLikeImage]]: four byte compares before any parsing. */
  def looksLikeWav(p: Array[Byte]): Boolean =
    p.length >= 12 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

  private def le16(p: Array[Byte], o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
  private def le32(p: Array[Byte], o: Int): Long =
    (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) | ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)

  /** REAL WAV decode — RIFF chunk walk, `fmt ` validation (PCM,
    * 16-bit), `data` chunk extraction as little-endian signed 16-bit
    * samples. No dependency: the container format is 44 bytes of public
    * spec. None for anything that isn't a well-formed 16-bit PCM WAV
    * (wrong magic, compressed encodings, truncated chunks) — callers
    * fall back to the raw-byte interpretation, the quarantine-not-crash
    * dispatch shared with [[decodeImage]]. */
  def decodeWav(p: Array[Byte]): Option[Array[Short]] = {
    if (!looksLikeWav(p)) return None
    var off = 12
    var pcm16 = false
    var samples: Option[Array[Short]] = None
    while (off + 8 <= p.length && samples.isEmpty) {
      val id = new String(p, off, 4, "US-ASCII")
      val size = le32(p, off + 4).toInt
      if (size < 0 || off + 8 + size > p.length) return None
      id match {
        case "fmt " =>
          if (size < 16) return None
          pcm16 = le16(p, off + 8) == 1 && le16(p, off + 22) == 16
        case "data" =>
          if (!pcm16) return None
          val n = size / 2
          val out = new Array[Short](n)
          var i = 0
          while (i < n) {
            out(i) = ((p(off + 8 + 2 * i) & 0xff) | (p(off + 9 + 2 * i) << 8)).toShort
            i += 1
          }
          samples = Some(out)
        case _ => ()
      }
      off += 8 + size + (size & 1) // RIFF chunks are 2-byte aligned
    }
    samples
  }

  /** Raw-payload fallback: every byte pair as a little-endian signed
    * 16-bit sample (s16le — the headerless layout audio pipelines ship
    * between stages). A trailing odd byte is dropped. Deterministic and
    * byte-arithmetic only, so the q124 oracle can reproduce it. */
  def rawS16le(p: Array[Byte]): Array[Short] = {
    val n = p.length / 2
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      out(i) = ((p(2 * i) & 0xff) | (p(2 * i + 1) << 8)).toShort
      i += 1
    }
    out
  }

  /** Windowed audio features over decoded samples: per
    * [[WindowSamples]]-sample window, the exact integer energy
    * (Σ sample², the RMS numerator) and the zero-crossing count —
    * integer DSP, so both engines agree bitwise (no float RMS/sqrt in
    * the contract face; callers derive RMS when they need it). */
  def audioWindows(docId: Long, samples: Array[Short]): Iterator[AudioWindow] =
    samples.grouped(WindowSamples).zipWithIndex.map { case (win, w) =>
      var sumSq = 0L; var zc = 0L
      var i = 0
      while (i < win.length) {
        val s = win(i)
        sumSq += s.toLong * s
        if (i > 0 && ((s >= 0) != (win(i - 1) >= 0))) zc += 1
        i += 1
      }
      AudioWindow(docId, w.toLong, win.length.toLong, sumSq, zc)
    }

  /** The audio face of the media pipeline: payloads decode as WAV when
    * they are one ([[decodeWav]] — real PCM parse, spec-driven with
    * in-test-generated WAVs), otherwise as raw s16le ([[rawS16le]] —
    * what the synthetic fixture exercises, and what the oracle
    * reproduces byte-for-byte via hex-pair extraction). A syntactically
    * RIFF-looking payload that fails the PCM parse falls back too, so
    * the dispatch can never diverge from the oracle on non-WAV data.
    * Same batched partition-local shape as [[extractFeatures]]. */
  def extractAudioWindows(s: SparkSession, dir: String): Dataset[AudioWindow] = {
    import s.implicits._
    mediaTable(s, dir).as[MediaRow].mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          audioWindows(r.doc_id, decodeWav(r.payload).getOrElse(rawS16le(r.payload)))
        }
      }
    }
  }

  /** Windowed audio energy/zero-crossings, hash-verified end-to-end:
    * the oracle re-derives every s16le sample from the payload's hex
    * expansion (byte pair → '0x'-cast → sign fold) and aggregates the
    * same exact integers — the mapPartitions decode pipeline checked
    * against SQL arithmetic, not just structurally. */
  /** Shared oracle chain (q124/q222): the synthetic payload's s16le
    * samples re-derived via hex-pair extraction, aggregated to the
    * per-window relation `aw(doc_id, window_idx, n_samples, sum_sq,
    * zero_crossings)` — one definition so the fingerprint oracle can
    * never drift from the window oracle. */
  private val audioWinSql =
    s"""p AS (SELECT doc_id, hex(encode(text)) AS hx,
       |            CAST(octet_length(encode(text)) // 2 AS INT) AS ns
       |          FROM documents),
       |s AS (SELECT doc_id, i,
       |        CAST(('0x' || substr(hx, 4 * i + 3, 2) || substr(hx, 4 * i + 1, 2)) AS INT) AS u
       |      FROM p, LATERAL (SELECT unnest(range(0, ns)) AS i)),
       |v AS (SELECT doc_id, i, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s16 FROM s),
       |w AS (SELECT doc_id, i // $WindowSamples AS window_idx, s16,
       |        LAG(s16) OVER (PARTITION BY doc_id, i // $WindowSamples ORDER BY i) AS prev
       |      FROM v),
       |aw AS (SELECT doc_id, CAST(window_idx AS BIGINT) AS window_idx,
       |  CAST(COUNT(*) AS BIGINT) AS n_samples,
       |  CAST(SUM(CAST(s16 AS BIGINT) * s16) AS BIGINT) AS sum_sq,
       |  CAST(SUM(CASE WHEN prev IS NOT NULL AND ((s16 >= 0) <> (prev >= 0))
       |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
       |FROM w GROUP BY 1, 2)""".stripMargin

  val q124AudioWindows: QueryDef = sql(
    "q124_audio_windows",
    s"""WITH $audioWinSql
       |SELECT doc_id, window_idx, n_samples, sum_sq, zero_crossings
       |FROM aw ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    extractAudioWindows(s, dir).toDF()
      .orderBy(col("doc_id"), col("window_idx"))
  }

  /** Audio-fingerprint deduplication — the audio leg of perceptual
    * dedup beside q148's image pHash (the energy-delta sign device is
    * Chromaprint/Shazam's core idea — Wang ISMIR'03, Haitsma &
    * Kalker ISMIR'02 — reduced to the repo's exact-integer DSP): per
    * doc, up to 60 bits, bit w set iff window w's energy exceeds window
    * w+1's (the loudness CONTOUR, robust to level scaling), packed into
    * one BIGINT, keyed together with the window count, the total
    * zero-crossing count and the total energy (without them,
    * single-window clips all share the empty contour and the key
    * degenerates — the fixture's ascii-byte "audio" never crosses
    * zero, so energy carries the content); docs matching on all four
    * pair up as perceptual
    * duplicates. All integers; the oracle re-derives every
    * sample from hex pairs through the shared [[audioWinSql]] chain, so
    * the fingerprint is hash-verified end-to-end against real decoded
    * DSP, not structurally. The fixture has no organic payload
    * duplicates at small SFs, so the face synthesizes re-ingests
    * deterministically (the q194/q212 device): every %23 clip appears
    * again at doc_id + 2000000 — byte-identical payloads have identical
    * window relations, so the copy is made at the window level; at
    * sf0.1 the corpus's own 8 text duplicates surface organically too.
    *
    * Shape: the q124 decode pass + one per-doc aggregate packing bits
    * (Σ 2^w over winning windows), + a fingerprint-keyed self-join
    * whose pair volume is Σ group² — the q30/q148 dedup class. Only
    * (doc_id, fp) leaves the decode stage. */
  val q222AudioFingerprint: QueryDef = sql(
    "q222_audio_fingerprint",
    s"""WITH $audioWinSql,
       |awx AS (SELECT * FROM aw
       |        UNION ALL
       |        SELECT doc_id + 2000000 AS doc_id, window_idx, n_samples,
       |          sum_sq, zero_crossings
       |        FROM aw WHERE doc_id % 23 = 0),
       |delta AS (SELECT doc_id, window_idx, sum_sq,
       |            LEAD(sum_sq) OVER (PARTITION BY doc_id ORDER BY window_idx) AS nxt
       |          FROM awx),
       |fp AS (SELECT d.doc_id,
       |         CAST(COALESCE(SUM(CASE WHEN d.nxt IS NOT NULL AND d.window_idx < 60
       |                    AND d.sum_sq > d.nxt
       |                  THEN CAST(2 AS BIGINT) ** CAST(d.window_idx AS INT)
       |                  ELSE 0 END), 0) AS BIGINT) AS fp,
       |         CAST(COUNT(*) AS BIGINT) AS n_windows,
       |         CAST(SUM(a2.zero_crossings) AS BIGINT) AS total_zc,
       |         CAST(SUM(a2.sum_sq) AS BIGINT) AS total_energy
       |       FROM delta d JOIN awx a2
       |         ON a2.doc_id = d.doc_id AND a2.window_idx = d.window_idx
       |       GROUP BY 1)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp, a.n_windows,
       |  a.total_zc, a.total_energy
       |FROM fp a JOIN fp b
       |  ON b.fp = a.fp AND b.n_windows = a.n_windows
       | AND b.total_zc = a.total_zc AND b.total_energy = a.total_energy
       | AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val aw0 = extractAudioWindows(s, dir).toDF()
    // deterministic re-ingest copies (the q194/q212 synthesis device):
    // byte-identical payloads produce identical window relations, so the
    // copy is synthesized at the window level — the fixture has no
    // organic payload duplicates at small SFs
    val aw = aw0.unionAll(aw0.filter(col("doc_id") % 23 === 0)
      .withColumn("doc_id", col("doc_id") + 2000000L))
    val fp = aw
      .withColumn("nxt", lead(col("sum_sq"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("window_idx"))))
      .groupBy(col("doc_id"))
      .agg(
        coalesce(sum(when(col("nxt").isNotNull && col("window_idx") < 60 &&
            col("sum_sq") > col("nxt"),
          expr("CAST(pow(2, window_idx) AS BIGINT)")).otherwise(0L)), lit(0L))
          .cast("long").as("fp"),
        count(lit(1)).as("n_windows"),
        sum(col("zero_crossings")).cast("long").as("total_zc"),
        sum(col("sum_sq")).cast("long").as("total_energy"))
    val keys = Seq("fp", "n_windows", "total_zc", "total_energy")
    val a = fp.select(col("doc_id").as("doc_a") +: keys.map(col): _*)
    val b = fp.select(col("doc_id").as("doc_b") +: keys.map(col): _*)
    a.join(b, keys)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("fp"), col("n_windows"),
        col("total_zc"), col("total_energy"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Metadata projection — oracle-checkable (payload length + derived
    * metadata are pure functions of the fixture columns). The payload
    * column itself is pruned out of the scan here. */
  val q43MultimodalMeta: QueryDef = sql(
    "q43_multimodal_meta",
    s"""SELECT doc_id,
       |  octet_length(encode(text)) AS n_bytes,
       |  (['jpeg', 'png', 'webp'])[(CAST(substr(source, 4, 10) AS INT) % 3) + 1] AS format,
       |  64 + n_chars % 512 AS width,
       |  64 + (doc_id * 31) % 512 AS height
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    mediaTable(s, dir)
      .select(col("doc_id"), length(col("payload")).cast("long").as("n_bytes"),
        col("format"), col("width"), col("height"))
      .orderBy(col("doc_id"))
  }

  /** Batched stub-decode features — rows-only check (the decode is not
    * SQL-expressible by design; determinism is pinned by FunctionsSpec
    * and the structural slice is hash-verified as q44a). The structural
    * contract also rides the output as columns: expected_bytes re-derived
    * from the fixture column outside the decode pipeline, and a row-level
    * within_bound verdict (byte count matches, f_len is exactly
    * n_bytes/255, and the stub moments sit in [0, 255] with
    * mean ≤ max) — driver-visible without a hash. */
  val q44MultimodalFeatures: QueryDef = rowsOnly("q44_multimodal_features") { (s, dir) =>
    val expected = Tables.documents(s, dir)
      .select(col("doc_id"), octet_length(col("text")).cast("int").as("expected_bytes"))
    extractFeatures(s, dir).toDF().join(expected, "doc_id")
      .withColumn("within_bound",
        col("n_bytes") === col("expected_bytes") &&
          // FLOAT-cast the quotient: Spark promotes float arithmetic to
          // double, and f_len was produced by single-precision division
          col("f_len") === (col("n_bytes").cast("float") / lit(255f)).cast("float") &&
          col("mean_byte") >= 0f && col("mean_byte") <= col("max_byte"))
      .orderBy(col("doc_id"))
  }

  /** The structural slice of q44, hash-verified: `n_bytes` and `f_len`
    * are pure functions of `octet_length(encode(text))`, so DuckDB can
    * reproduce them — and because this SELECTs from the real
    * [[extractFeatures]] mapPartitions pipeline, the batched-decode
    * plumbing itself is oracle-checked (only the stubbed mean/max floats
    * stay rows-only in q44). `f_len` is float÷float — IEEE single
    * division is bit-identical in both engines. */
  val q44aMultimodalStruct: QueryDef = sql(
    "q44a_multimodal_struct",
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |  CAST(octet_length(encode(text)) AS REAL) / CAST(255 AS REAL) AS f_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    extractFeatures(s, dir).toDF()
      .select(col("doc_id"), col("n_bytes"), col("f_len"))
      .orderBy(col("doc_id"))
  }

  /** Frame-sampled video features with an oracle on the structural
    * part: on the synthetic fixture every payload takes the byte-chunk
    * branch, whose count/size/index arithmetic is a pure function of
    * the payload length — DuckDB reproduces everything except
    * frame_mean (pinned by FunctionsSpec, which also drives the REAL
    * MJPEG branch with in-test-encoded frames). */
  val q53MultimodalFrames: QueryDef = sql(
    "q53_multimodal_frames",
    s"""SELECT doc_id, frame_idx,
       |  CAST(LEAST($FrameSize, octet_length(encode(text)) - frame_idx * $FrameSize) AS INT) AS frame_bytes
       |FROM (SELECT doc_id, text,
       |        unnest(range(0, CAST(ceil(octet_length(encode(text)) / $FrameSize.0) AS INT))) AS frame_idx
       |      FROM documents)
       |WHERE frame_idx % $SampleEvery = 0
       |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
    sampleFrames(s, dir).toDF()
      .select(col("doc_id"), col("frame_idx"), col("frame_bytes"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** 60-bit perceptual average-hash of a media payload — the image-side
    * entry into the dedup stack (near-duplicate IMAGES survive
    * re-encoding and small edits that break exact byte hashes; every
    * large-scale multimodal curation pipeline dedups on a perceptual
    * hash, not md5). Sniffed images decode for REAL and hash a 6×10
    * mean-luminance grid; any other payload hashes 60 byte-stream
    * chunks by the same rule (the fixture face, byte-for-byte
    * reproducible by the oracle). Both paths share one bit rule in
    * exact integers — bit c set iff cell/chunk mean exceeds the global
    * mean: sum_c · N > total · n_c (strict, no division). */
  def phash60(payload: Array[Byte]): Long = {
    val img =
      if (looksLikeImage(payload))
        try Option(readImage(payload)) catch { case _: Exception => None }
      else None
    img match {
      case Some(im) =>
        val w = im.getWidth; val h = im.getHeight
        val cellSum = new Array[Long](60); val cellPix = new Array[Long](60)
        var total = 0L
        var y = 0
        while (y < h) {
          val row = (y * 10 / h) * 6
          var x = 0
          while (x < w) {
            val rgb = im.getRGB(x, y)
            val luma = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            val c = row + x * 6 / w
            cellSum(c) += luma; cellPix(c) += 1; total += luma
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        var hash = 0L; var c = 0
        while (c < 60) {
          if (cellSum(c) * n > total * cellPix(c)) hash |= 1L << c
          c += 1
        }
        hash
      case _ =>
        val n = payload.length
        if (n == 0) 0L
        else {
          val chunkSum = new Array[Long](60); val chunkLen = new Array[Long](60)
          var total = 0L; var i = 0
          while (i < n) {
            val v = payload(i) & 0xff
            val c = (i.toLong * 60 / n).toInt
            chunkSum(c) += v; chunkLen(c) += 1; total += v
            i += 1
          }
          var hash = 0L; var c = 0
          while (c < 60) {
            if (chunkSum(c) * n > total * chunkLen(c)) hash |= 1L << c
            c += 1
          }
          hash
        }
    }
  }

  /** (doc_id, phash) of the media table: the codec dispatch runs in
    * batched mapPartitions like every decode in this module. */
  def phashTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir).select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) => (id, phash60(p)) })
      .toDF("doc_id", "phash")
  }

  /** Near-duplicate media pairs by perceptual hash: 6 bands × 10 bits
    * block the candidate space (the q78 banded-LSH device — a true
    * near-dup at hamming ≤ 12 of 60 bits must agree exactly on at
    * least one band), then the exact `bit_count(xor)` filter runs on
    * candidates map-side before the distinct. Payloads never shuffle:
    * only (doc_id, phash) leaves the decode stage. */
  val q148PhashDedup: QueryDef = sql(
    "q148_phash_dedup",
    """WITH b AS (SELECT doc_id, i - 1 AS pos, ascii(substr(text, i, 1)) AS v, len(text) AS n
      |           FROM documents, LATERAL (SELECT unnest(range(1, len(text) + 1)) AS i)),
      |c AS (SELECT doc_id, CAST((pos * 60) // n AS INT) AS chunk, v, n FROM b),
      |cs AS (SELECT doc_id, chunk, SUM(v) AS s, COUNT(*) AS l, MAX(n) AS n
      |       FROM c GROUP BY 1, 2),
      |t AS (SELECT doc_id, SUM(s) AS total FROM cs GROUP BY 1),
      |h AS (SELECT cs.doc_id,
      |        CAST(SUM(CASE WHEN cs.s * cs.n > t.total * cs.l
      |                      THEN (CAST(1 AS BIGINT) << chunk) ELSE 0 END) AS BIGINT) AS phash
      |      FROM cs JOIN t USING (doc_id) GROUP BY 1),
      |parts AS (SELECT doc_id, phash, p AS pidx, (phash >> (10 * p)) & 1023 AS pval
      |          FROM h, LATERAL (SELECT unnest(range(0, 6)) AS p)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                a.phash AS ph_a, b.phash AS ph_b
      |         FROM parts a JOIN parts b
      |           ON a.pidx = b.pidx AND a.pval = b.pval AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, CAST(bit_count(xor(ph_a, ph_b)) AS INT) AS hamming
      |FROM cand
      |WHERE bit_count(xor(ph_a, ph_b)) <= 12
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val sig = phashTable(s, dir).cachedStageBoundary
    val parts = sig.select(col("doc_id"), col("phash"),
        explode(expr("transform(sequence(0, 5), " +
          "p -> struct(p AS pidx, shiftright(phash, 10 * p) & 1023 AS pval))")).as("p"))
      .select(col("doc_id"), col("phash"), col("p.pidx").as("pidx"), col("p.pval").as("pval"))
    val a = parts.select(col("doc_id").as("doc_a"), col("phash").as("ph_a"),
      col("pidx"), col("pval"))
    val b = parts.select(col("doc_id").as("doc_b"), col("phash").as("ph_b"),
      col("pidx"), col("pval"))
    val ham = expr("bit_count(ph_a ^ ph_b)")
    a.join(b, Seq("pidx", "pval"))
      .filter(col("doc_a") < col("doc_b") && ham <= 12)
      .select(col("doc_a"), col("doc_b"), ham.cast("int").as("hamming")).distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** (doc_id, frame_idx, phash) over ALL frames of each payload — the
    * video-side signature stream [[q330SceneSegments]] segments. Frames
    * are the same sniff-dispatched units as [[frameFeaturesOf]] (real
    * MJPEG frames when the payload is one, [[FrameSize]]-byte chunks
    * otherwise), hashed by the same bit rule as [[phash60]]. */
  def framePhashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir).as[MediaRow].mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap(_.iterator.flatMap { r =>
        val frames: Iterator[(Array[Byte], Int)] =
          if (looksLikeMjpeg(r.payload)) splitMjpeg(r.payload).iterator.zipWithIndex
          else r.payload.grouped(FrameSize).zipWithIndex
        frames.map { case (fr, idx) => (r.doc_id, idx.toLong, phash60(fr)) }
      })
    }.toDF("doc_id", "frame_idx", "phash")
  }

  /** Video scene segmentation on perceptual frame hashes — the
    * shot-boundary detector every video curation pipeline runs before
    * sampling training frames (one frame per SCENE beats one frame
    * every N: a static shot contributes near-duplicate frames that
    * near-dup dedup would only re-discover later at pair cost): hash
    * every frame ([[framePhashes]] — the [[phash60]] bit rule per
    * frame), compare CONSECUTIVE hashes by exact hamming distance, and
    * open a new scene when the distance exceeds 24 of 60 bits; the
    * running sum of boundaries numbers the scenes (the q264
    * interval-island device on the frame axis). Emits per video:
    * frames, scenes, the longest scene, and the mean inter-frame
    * distance (a stability score).
    *
    * Scale posture: payloads never shuffle — only (doc_id, frame_idx,
    * phash) leaves the decode stage; the LAG and the running sum share
    * ONE doc-partitioned sort, and the rollup is doc-keyed. The oracle
    * re-derives every frame hash from the payload's character codes, so
    * the decode pipeline is hash-verified end-to-end (the q124/q148
    * discipline). */
  val q330SceneSegments: QueryDef = sql(
    "q330_scene_segments",
    s"""WITH b AS (SELECT doc_id, i - 1 AS pos, ascii(substr(text, i, 1)) AS v
       |           FROM documents, LATERAL (SELECT unnest(range(1, len(text) + 1)) AS i)),
       |fr AS (SELECT doc_id, pos // $FrameSize AS f, pos % $FrameSize AS off, v FROM b),
       |fl AS (SELECT doc_id, f, CAST(MAX(off) + 1 AS BIGINT) AS flen FROM fr GROUP BY 1, 2),
       |c AS (SELECT fr.doc_id, fr.f, CAST((fr.off * 60) // fl.flen AS INT) AS chunk,
       |        fr.v, fl.flen
       |      FROM fr JOIN fl ON fl.doc_id = fr.doc_id AND fl.f = fr.f),
       |cs AS (SELECT doc_id, f, chunk, SUM(v) AS s, COUNT(*) AS l, MAX(flen) AS flen
       |       FROM c GROUP BY 1, 2, 3),
       |t AS (SELECT doc_id, f, SUM(s) AS total FROM cs GROUP BY 1, 2),
       |h AS (SELECT cs.doc_id, cs.f,
       |        CAST(SUM(CASE WHEN cs.s * cs.flen > t.total * cs.l
       |                      THEN (CAST(1 AS BIGINT) << chunk) ELSE 0 END) AS BIGINT) AS ph
       |      FROM cs JOIN t ON t.doc_id = cs.doc_id AND t.f = cs.f GROUP BY 1, 2),
       |d AS (SELECT doc_id, f, ph,
       |        LAG(ph) OVER (PARTITION BY doc_id ORDER BY f) AS prev FROM h),
       |m AS (SELECT doc_id, f,
       |        CASE WHEN prev IS NULL OR bit_count(xor(ph, prev)) > 24 THEN 1 ELSE 0 END AS ns,
       |        CASE WHEN prev IS NULL THEN NULL
       |             ELSE CAST(bit_count(xor(ph, prev)) AS BIGINT) END AS dist
       |      FROM d),
       |sc AS (SELECT doc_id, f, dist,
       |         SUM(ns) OVER (PARTITION BY doc_id ORDER BY f
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene
       |       FROM m),
       |per AS (SELECT doc_id, scene, CAST(COUNT(*) AS BIGINT) AS sf FROM sc GROUP BY 1, 2)
       |SELECT sc.doc_id AS doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_frames,
       |  CAST(MAX(sc.scene) AS BIGINT) AS n_scenes,
       |  CAST(MAX(per.sf) AS BIGINT) AS max_scene_frames,
       |  CAST(SUM(sc.dist) AS BIGINT) AS total_boundary_bits
       |FROM sc JOIN per ON per.doc_id = sc.doc_id AND per.scene = sc.scene
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val byF = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val d = framePhashes(s, dir)
      .withColumn("prev", lag(col("phash"), 1).over(byF))
      .withColumn("dist", when(col("prev").isNull, lit(null).cast("long"))
        .otherwise(expr("CAST(bit_count(phash ^ prev) AS BIGINT)")))
      .withColumn("ns", when(col("prev").isNull || col("dist") > 24, 1L).otherwise(0L))
      .withColumn("scene", sum(col("ns")).over(
        byF.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val per = d.groupBy(col("doc_id"), col("scene")).agg(count(lit(1)).as("sf"))
    d.join(per, Seq("doc_id", "scene"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        max(col("scene")).as("n_scenes"),
        max(col("sf")).as("max_scene_frames"),
        sum(col("dist")).as("total_boundary_bits"))
      .orderBy(col("doc_id"))
  }

  /** Voice-activity segmentation (the audio curation gate that trims
    * silence before transcription or fingerprinting — the audio analog
    * of q330's shot detector): a window is SPEECH when its energy per
    * sample exceeds the track's own mean — the comparison
    * sum_sq · Σn > Σsum_sq · n is exact integers and level-invariant
    * (the q148/q222 no-division bit rule) — and consecutive speech
    * windows fuse into segments (the q264 island device on the window
    * axis; any non-speech window breaks the run). Emits per track:
    * window/speech counts, segment count, the longest segment, and the
    * speech fraction. Tracks that never cross their own mean emit
    * zeroes rather than vanishing — silence-only audio is a finding,
    * not a missing row.
    *
    * Scale posture: one decode pass ([[extractAudioWindows]] — payloads
    * never shuffle), one doc-keyed totals aggregate broadcast back, one
    * doc-partitioned island window, one rollup. */
  val q331VadSegments: QueryDef = sql(
    "q331_vad_segments",
    s"""WITH $audioWinSql,
       |dt AS (SELECT doc_id, CAST(SUM(sum_sq) AS BIGINT) AS tot_sq,
       |         CAST(SUM(n_samples) AS BIGINT) AS tot_n,
       |         CAST(COUNT(*) AS BIGINT) AS n_windows
       |       FROM aw GROUP BY 1),
       |sp AS (SELECT aw.doc_id, aw.window_idx
       |       FROM aw JOIN dt USING (doc_id)
       |       WHERE aw.sum_sq * dt.tot_n > dt.tot_sq * aw.n_samples),
       |mk AS (SELECT doc_id, window_idx,
       |         CASE WHEN LAG(window_idx) OVER (PARTITION BY doc_id ORDER BY window_idx)
       |                   = window_idx - 1 THEN 0 ELSE 1 END AS ns
       |       FROM sp),
       |sg AS (SELECT doc_id, window_idx,
       |         SUM(ns) OVER (PARTITION BY doc_id ORDER BY window_idx
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
       |       FROM mk),
       |per AS (SELECT doc_id, seg, CAST(COUNT(*) AS BIGINT) AS sw FROM sg GROUP BY 1, 2),
       |agg AS (SELECT doc_id, CAST(SUM(sw) AS BIGINT) AS n_speech,
       |          CAST(COUNT(*) AS BIGINT) AS n_segments,
       |          CAST(MAX(sw) AS BIGINT) AS max_segment_windows
       |        FROM per GROUP BY 1)
       |SELECT dt.doc_id, dt.n_windows,
       |  COALESCE(agg.n_speech, 0) AS n_speech,
       |  COALESCE(agg.n_segments, 0) AS n_segments,
       |  COALESCE(agg.max_segment_windows, 0) AS max_segment_windows,
       |  CAST(COALESCE(agg.n_speech, 0) AS DOUBLE) / dt.n_windows AS speech_frac
       |FROM dt LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val aw = extractAudioWindows(s, dir).toDF().cachedStageBoundary
    val dt = aw.groupBy(col("doc_id"))
      .agg(sum(col("sum_sq")).as("tot_sq"), sum(col("n_samples")).as("tot_n"),
        count(lit(1)).as("n_windows"))
    val sp = aw.join(dt, "doc_id")
      .filter(col("sum_sq") * col("tot_n") > col("tot_sq") * col("n_samples"))
      .select(col("doc_id"), col("window_idx"))
    val byW = Window.partitionBy(col("doc_id")).orderBy(col("window_idx"))
    val sg = sp
      .withColumn("ns", when(lag(col("window_idx"), 1).over(byW) === col("window_idx") - 1, 0L)
        .otherwise(1L))
      .withColumn("seg", sum(col("ns")).over(
        byW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val agg = sg.groupBy(col("doc_id"), col("seg")).agg(count(lit(1)).as("sw"))
      .groupBy(col("doc_id"))
      .agg(sum(col("sw")).as("n_speech"), count(lit(1)).as("n_segments"),
        max(col("sw")).as("max_segment_windows"))
    dt.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_speech"), lit(0L)).as("n_speech"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("max_segment_windows"), lit(0L)).as("max_segment_windows"),
        (coalesce(col("n_speech"), lit(0L)).cast("double") / col("n_windows"))
          .as("speech_frac"))
      .orderBy(col("doc_id"))
  }

  /** Aspect-ratio bucketed batch packing — the vision-training ingest
    * step (SDXL's bucketing, Podell et al. 2023 §2.3: batches must be
    * shape-homogeneous, so images go to the nearest aspect bucket and
    * batches fill a pixel budget per bucket): every image joins its
    * nearest milli-ratio bucket from a fixed 5-ratio grid (|aspect −
    * bucket| with ties to the narrower bucket), then each bucket packs
    * doc_id-ordered images into ~2²¹-pixel batches by the q100
    * start-offset rule (batch = exclusive-prefix-pixels DIV budget).
    * Exact integers end to end: aspect in milli-units by integer
    * divide, prefix sums of integer pixel counts.
    *
    * Plan shape: the grid is a 5-row broadcast; the nearest-bucket pick
    * is a map-side min(struct) aggregate (no window); the per-bucket
    * prefix sum is [[BlockRank.groupedRunningSum]] — 5 buckets ×
    * data-proportional membership is EXACTLY the few-large-groups shape
    * where `PARTITION BY bucket ORDER BY doc_id` would funnel each
    * bucket through one task, so the grouped device (per-(bucket,
    * doc-block) partials + a (buckets×blocks)-row offset window) does
    * the global ordering work. Output is batch-granular. */
  val q376AspectBatching: QueryDef = sql(
    "q376_aspect_batching",
    """WITH img AS (SELECT doc_id, 64 + n_chars % 512 AS width,
      |    64 + (doc_id * 31) % 512 AS height FROM documents),
      |asp AS (SELECT doc_id, width * height AS pix,
      |    width * 1000 // height AS am FROM img),
      |grid(bm) AS (VALUES (500), (750), (1000), (1333), (2000)),
      |pick AS (SELECT doc_id, pix, bm AS bucket_milli FROM (
      |    SELECT a.doc_id, a.pix, g.bm,
      |      ROW_NUMBER() OVER (PARTITION BY a.doc_id
      |        ORDER BY ABS(a.am - g.bm), g.bm) AS rn
      |    FROM asp a CROSS JOIN grid g) WHERE rn = 1),
      |cum AS (SELECT bucket_milli, doc_id, pix,
      |    CAST(COALESCE(SUM(pix) OVER (PARTITION BY bucket_milli ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      |  FROM pick)
      |SELECT CAST(bucket_milli AS BIGINT) AS bucket_milli,
      |  CAST(off // 2097152 AS BIGINT) AS batch_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_images, CAST(SUM(pix) AS BIGINT) AS sum_pixels
      |FROM cum GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val asp = mediaTable(s, dir)
      .select(col("doc_id"), (col("width") * col("height")).as("pix"),
        expr("width * 1000L DIV height").as("am"))
    val grid = broadcast(s.range(1).select(
      explode(array(Seq(500L, 750L, 1000L, 1333L, 2000L).map(lit): _*)).as("bm")))
    val pick = asp.crossJoin(grid)
      .groupBy(col("doc_id"), col("pix"))
      .agg(min(struct(abs(col("am") - col("bm")).as("d"), col("bm"))).as("w"))
      .select(col("doc_id"), col("pix"), col("w.bm").as("bucket_milli"))
    val cum = BlockRank.groupedRunningSum(
      pick, Seq("bucket_milli"), expr("doc_id DIV 4096"), blkAsc = true,
      Seq(col("doc_id")), col("pix"), out = "cumpix")
    cum.select(col("bucket_milli"), col("pix"),
        expr("(cumpix - pix) DIV 2097152").as("batch_id"))
      .groupBy(col("bucket_milli"), col("batch_id"))
      .agg(count(lit(1)).as("n_images"), sum(col("pix")).as("sum_pixels"))
      .orderBy(col("bucket_milli"), col("batch_id"))
  }

  val all: Seq[QueryDef] = Seq(
    q376AspectBatching,
    q43MultimodalMeta, q44MultimodalFeatures, q44aMultimodalStruct, q53MultimodalFrames,
    q124AudioWindows, q148PhashDedup, q222AudioFingerprint,
    q330SceneSegments, q331VadSegments)
}
