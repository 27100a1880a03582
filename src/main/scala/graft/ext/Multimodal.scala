package graft.ext

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}
import graft.core.Eager.EagerCheckpoint

/** [EXT] multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata alongside.
  *
  * The media blobs are REAL container formats, staged once at fixture
  * prep ([[PreparedTables]] memo, the ingest-time cost model):
  *
  *   - `graft_media`: uncompressed 24-bpp Windows BMP (BITMAPFILEHEADER +
  *     BITMAPINFOHEADER, little-endian fixed-offset fields) — the image
  *     decode op parses the actual header (magic, pixel offset, width,
  *     height, bpp) and runs its byte statistics over the PIXEL payload
  *     the header points at, exactly what a real decoder does before
  *     handing pixels to a model-input resize.
  *   - `graft_video`: YUV4MPEG2 (y4m) — a real uncompressed video
  *     container with a plain-text stream header (`YUV4MPEG2 W.. H.. ..`)
  *     and a 6-byte `FRAME\n` marker before each raw frame. The frame
  *     sampler parses the header, derives the frame size from the C444
  *     colorspace, walks the frame markers (loudly failing on a corrupt
  *     container), and emits one row per sampled frame.
  *
  * Blob content is a pure function of each document's text bytes (pixels
  * cycle the UTF-8 bytes; dims/frame counts are integer arithmetic on the
  * byte stats), so the DuckDB oracle — which sees only the fixture
  * tables, never the staged blobs — reproduces every parsed and computed
  * column by replaying the generator spec. The SPARK side never uses that
  * derivation: it decodes purely from the staged bytes, and a corrupted
  * stage would fail the gate. Decoding runs in `mapPartitions`
  * (per-partition batching, the Scala analogue of `mapInPandas`; a codec
  * library amortizes its setup exactly there). Frames of one item stay in
  * one partition — media fan-out without skew.
  */
object Multimodal {

  /** Byte-level metadata over a binary column — fully oracle-checked
    * (blob length, sha256, first-8-bytes hex). The binary column is
    * manufactured from `text` since fixtures carry no media; the plumbing
    * is representation-agnostic. */
  val binaryMeta: Q = Q(
    "ext_mm_binary_meta",
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      |sha256(text) AS content_sha,
      |lower(substr(hex(encode(text)), 1, 16)) AS magic
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .select(col("doc_id"),
        length(col("blob")).cast("long").as("n_bytes"),
        sha2(col("blob"), 256).as("content_sha"),
        lower(hex(substring(col("blob"), 1, 8))).as("magic"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- BMP

  private val FitBox = 224
  private val BmpHeaderLen = 54

  /** Aspect-preserving fit of (w, h) into FitBox x FitBox — the longer
    * side becomes FitBox, the shorter scales by the same integer-rounded
    * factor (never upscaled past the box). */
  private[graft] def fitDims(w: Int, h: Int): (Int, Int) =
    if (w >= h) (FitBox, math.max(1, (h.toLong * FitBox / w).toInt))
    else (math.max(1, (w.toLong * FitBox / h).toInt), FitBox)

  private def sumBytes(b: Array[Byte]): Long = {
    var s = 0L; var i = 0
    while (i < b.length) { s += b(i) & 0xff; i += 1 }
    s
  }

  /** Generator spec (replayed verbatim by the oracle SQL): width is a
    * multiple of 4 in 4..128 — a 24-bpp row stride of `3*width` bytes is
    * then already 4-byte aligned, so the file carries no row padding and
    * the pixel payload is exactly `3*width*height` cycled text bytes. */
  private[graft] def bmpDims(textSum: Long, textLen: Int): (Int, Int) =
    ((4 * (1 + textSum % 32)).toInt, 1 + textLen % 24)

  /** A real, viewer-openable 24-bpp BMP whose pixel payload cycles the
    * document's UTF-8 bytes. Runs at STAGE time only — query-time code
    * parses, never generates. */
  private[graft] def bmpBytes(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val (w, h) = bmpDims(sumBytes(text), n)
    val npix = w * 3 * h
    val out = new Array[Byte](BmpHeaderLen + npix)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le32(2, BmpHeaderLen + npix) // file size
    le32(10, BmpHeaderLen)       // pixel data offset
    le32(14, 40)                 // BITMAPINFOHEADER size
    le32(18, w)
    le32(22, h)
    le16(26, 1)                  // planes
    le16(28, 24)                 // bits per pixel
    le32(30, 0)                  // BI_RGB (uncompressed)
    le32(34, npix)               // image size
    le32(38, 2835); le32(42, 2835) // 72 dpi
    var p = 0
    while (p < npix) {
      out(BmpHeaderLen + p) = if (n == 0) 0 else text(p % n)
      p += 1
    }
    out
  }

  /** One decoded image: header-parsed dims + pixel-payload statistics +
    * the aspect-fit resize plan — every column either read from the
    * header or computed from the pixel bytes the header points at. */
  final case class BmpFeatures(
      doc_id: Long, n_bytes: Long, width: Int, height: Int, bpp: Int,
      pix_bytes: Long, pix_sum: Long, pix_min: Long, pix_max: Long,
      pix_distinct: Long, pix_printable: Long, target_w: Int, target_h: Int)

  /** The codec call: parse the BMP header (fixed little-endian offsets),
    * locate the pixel payload, compute its statistics. Pure function of
    * the blob — loud `require` on a malformed container. */
  private[graft] def decodeBmp(docId: Long, b: Array[Byte]): BmpFeatures = {
    def u8(i: Int): Int = b(i) & 0xff
    def le32(i: Int): Int =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    require(b.length >= BmpHeaderLen && b(0) == 'B' && b(1) == 'M',
      s"doc $docId: not a BMP blob")
    require(le32(2) == b.length, s"doc $docId: BMP size field mismatch")
    val off = le32(10)
    val w = le32(18)
    val h = le32(22)
    val bpp = le16(28)
    require(le32(30) == 0 && bpp == 24, s"doc $docId: not uncompressed 24bpp")
    val npix = b.length - off
    require(npix == w * 3 * h, s"doc $docId: pixel payload size mismatch")
    var sum = 0L
    var mn = if (npix == 0) 0L else 255L
    var mx = 0L
    var printable = 0L
    val seen = new Array[Boolean](256)
    var distinct = 0L
    var i = off
    while (i < b.length) {
      val v = b(i) & 0xff
      sum += v
      if (v < mn) mn = v
      if (v > mx) mx = v
      if (v >= 32 && v <= 126) printable += 1
      if (!seen(v)) { seen(v) = true; distinct += 1 }
      i += 1
    }
    val (tw, th) = fitDims(w, h)
    BmpFeatures(docId, b.length.toLong, w, h, bpp, npix.toLong, sum, mn, mx,
      distinct, printable, tw, th)
  }

  // ---------------------------------------------------------------- y4m

  /** Generator spec for the video blobs (replayed by the oracle):
    * tiny C444 frames, 1..8 of them, pixel stream cycling the text bytes
    * continuously ACROSS frames. */
  private[graft] def y4mDims(textSum: Long, textLen: Int): (Int, Int, Int) =
    (2 + textLen % 6, (2 + textSum % 4).toInt, (1 + textSum % 8).toInt)

  private val FrameMarker = "FRAME\n".getBytes("US-ASCII")

  /** A real YUV4MPEG2 stream: text header + `FRAME\n`-delimited raw C444
    * frames. Stage-time only. */
  private[graft] def y4mBytes(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val (w, h, nf) = y4mDims(sumBytes(text), n)
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C444\n".getBytes("US-ASCII")
    val fsz = 3 * w * h
    val out = new Array[Byte](header.length + nf * (FrameMarker.length + fsz))
    System.arraycopy(header, 0, out, 0, header.length)
    var f = 0
    while (f < nf) {
      val base = header.length + f * (FrameMarker.length + fsz)
      System.arraycopy(FrameMarker, 0, out, base, FrameMarker.length)
      var i = 0
      while (i < fsz) {
        val g = f * fsz + i // global pixel index, cycle continues across frames
        out(base + FrameMarker.length + i) = if (n == 0) 0 else text(g % n)
        i += 1
      }
      f += 1
    }
    out
  }

  /** One sampled frame: stream-header dims, the frame's byte offset in
    * the container, and the frame payload's byte sum (the "decode
    * something from each frame" step). */
  final case class FrameRow(
      doc_id: Long, frame_idx: Long, width: Int, height: Int,
      frame_off: Long, frame_sum: Long)

  /** Parse the y4m stream header, derive the frame size from the C444
    * colorspace, walk the `FRAME\n` markers, and emit one row per frame.
    * Pure function of the blob; corrupt markers fail loudly. */
  private[graft] def decodeY4m(docId: Long, b: Array[Byte]): Seq[FrameRow] = {
    val nl = b.indexOf('\n'.toByte)
    require(nl > 0, s"doc $docId: no y4m stream header")
    val header = new String(b, 0, nl, "US-ASCII")
    val m = "^YUV4MPEG2 W(\\d+) H(\\d+) .*C444$".r.findFirstMatchIn(header)
    require(m.isDefined, s"doc $docId: not a YUV4MPEG2 C444 header: $header")
    val w = m.get.group(1).toInt
    val h = m.get.group(2).toInt
    val fsz = 3 * w * h // C444: full-resolution Y, U, V planes
    val stride = FrameMarker.length + fsz
    val body = b.length - (nl + 1)
    require(body % stride == 0, s"doc $docId: truncated y4m stream")
    (0 until body / stride).map { f =>
      val base = nl + 1 + f * stride
      require(FrameMarker.indices.forall(i => b(base + i) == FrameMarker(i)),
        s"doc $docId: bad FRAME marker at offset $base")
      val off = base + FrameMarker.length
      var sum = 0L
      var i = off
      while (i < off + fsz) { sum += b(i) & 0xff; i += 1 }
      FrameRow(docId, f.toLong, w, h, off.toLong, sum)
    }
  }

  // ---------------------------------------------------------------- wav

  /** Generator spec for the audio blobs (replayed by the oracle):
    * canonical 44-byte RIFF/WAVE header + unsigned 8-bit PCM samples
    * cycling the text bytes. Rate/channels/length are integer arithmetic
    * on the text stats. */
  private[graft] def wavSpec(textSum: Long, textLen: Int): (Int, Int, Int) =
    ((8000 + (textSum % 9) * 1000).toInt, // sample rate 8k..16k
      (1 + textSum % 2).toInt,            // mono / stereo
      64 + textLen % 192)                 // samples per channel

  /** A real RIFF/WAVE file (PCM, 8-bit unsigned). Stage-time only. */
  private[graft] def wavBytes(text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val (sr, ch, nsamp) = wavSpec(sumBytes(text), n)
    val dlen = ch * nsamp
    val out = new Array[Byte](44 + dlen)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    def tag(off: Int, s: String): Unit =
      s.getBytes("US-ASCII").zipWithIndex.foreach {
        case (b, i) => out(off + i) = b }
    tag(0, "RIFF"); le32(4, 36 + dlen); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16)
    le16(20, 1)          // PCM
    le16(22, ch)
    le32(24, sr)
    le32(28, sr * ch)    // byte rate (8-bit: 1 byte/sample)
    le16(32, ch)         // block align
    le16(34, 8)          // bits per sample
    tag(36, "data"); le32(40, dlen)
    var i = 0
    while (i < dlen) {
      out(44 + i) = if (n == 0) 0 else text(i % n)
      i += 1
    }
    out
  }

  /** One decoded audio clip: chunk-walked format fields + integer
    * amplitude statistics over the PCM payload (sq-sum centered at the
    * 8-bit midpoint 128 — the loudness/DC features an audio-quality
    * filter computes before resampling for a model). */
  final case class WavFeatures(
      doc_id: Long, n_bytes: Long, sample_rate: Int, channels: Int,
      bits: Int, n_samples: Long, duration_ms: Long,
      amp_sum: Long, amp_sqsum: Long, amp_min: Long, amp_max: Long)

  /** Parse the RIFF container with a REAL chunk walk (not fixed offsets
    * past the RIFF header): find `fmt ` and `data` wherever they sit,
    * loudly failing on anything malformed — then compute amplitude
    * statistics over the PCM payload. Pure function of the blob. */
  private[graft] def decodeWav(docId: Long, b: Array[Byte]): WavFeatures = {
    def u8(i: Int): Int = b(i) & 0xff
    def le32(i: Int): Int =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def tag(i: Int): String = new String(b, i, 4, "US-ASCII")
    require(b.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE",
      s"doc $docId: not a RIFF/WAVE blob")
    require(le32(4) == b.length - 8, s"doc $docId: RIFF size mismatch")
    var pos = 12
    var fmtOff = -1
    var dataOff = -1
    var dataLen = -1
    while (pos + 8 <= b.length && (fmtOff < 0 || dataOff < 0)) {
      val t = tag(pos); val len = le32(pos + 4)
      require(pos + 8 + len <= b.length,
        s"doc $docId: chunk '$t' overruns the container")
      if (t == "fmt ") fmtOff = pos + 8
      else if (t == "data") { dataOff = pos + 8; dataLen = len }
      pos += 8 + len + (len & 1) // RIFF chunks are word-aligned
    }
    require(fmtOff >= 0 && dataOff >= 0,
      s"doc $docId: missing fmt/data chunk")
    require(le16(fmtOff) == 1 && le16(fmtOff + 14) == 8,
      s"doc $docId: not 8-bit PCM")
    val ch = le16(fmtOff + 2)
    val sr = le32(fmtOff + 4)
    var sum = 0L; var sq = 0L
    var mn = if (dataLen == 0) 0L else 255L
    var mx = 0L
    var i = dataOff
    while (i < dataOff + dataLen) {
      val v = b(i) & 0xff
      sum += v
      val c = v - 128; sq += (c * c).toLong
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    val nsamp = dataLen.toLong / ch
    WavFeatures(docId, b.length.toLong, sr, ch, 8, nsamp,
      nsamp * 1000L / sr, sum, sq, mn, mx)
  }

  // ------------------------------------------------------------- stage

  private val prepared = new PreparedTables(
    Seq("documents.parquet"),
    Seq("graft_media", "graft_video", "graft_audio"), write)

  def ensurePrepared(s: SparkSession, d: String): Unit =
    prepared.ensurePrepared(s, d)

  /** Stage both media tables: (doc_id, blob) with real container bytes.
    * Generation batches per partition — the write path a media ingest
    * job has. */
  private def write(s: SparkSession, d: String): Unit = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("t"))
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    docs.mapPartitions { rows =>
      rows.map(r => (r.getLong(0), bmpBytes(r.getAs[Array[Byte]](1))))
    }.toDF("doc_id", "blob")
      .write.mode("overwrite").format("parquet").saveAsTable("graft_media")
    docs.mapPartitions { rows =>
      rows.map(r => (r.getLong(0), y4mBytes(r.getAs[Array[Byte]](1))))
    }.toDF("doc_id", "blob")
      .write.mode("overwrite").format("parquet").saveAsTable("graft_video")
    docs.mapPartitions { rows =>
      rows.map(r => (r.getLong(0), wavBytes(r.getAs[Array[Byte]](1))))
    }.toDF("doc_id", "blob")
      .write.mode("overwrite").format("parquet").saveAsTable("graft_audio")
  }

  /** The hex→byte-list CTEs shared by both oracles: documents' UTF-8
    * bytes as a 1-based int list, plus their sum (the generator's seed
    * statistics). */
  private val OracleTextBytes =
    """b AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
      |         octet_length(encode(text)) AS n FROM documents),
      |tb AS (SELECT doc_id, n, list_transform(range(0, n),
      |    i -> (strpos('0123456789abcdef', substr(hx, 2*i+1, 1))-1)*16
      |       + (strpos('0123456789abcdef', substr(hx, 2*i+2, 1))-1)) AS bl
      |  FROM b),
      |g AS (SELECT doc_id, n, bl, COALESCE(list_sum(bl), 0) AS tsum
      |  FROM tb)""".stripMargin

  // ------------------------------------------------------------ gates

  /** Decode / feature-extract pipeline: staged BMP blobs in, typed
    * features out, batched per partition. Spark parses the real header;
    * the oracle — blind to the staged table — replays the generator spec
    * (dims from text stats, pixels = cycled text bytes) so every parsed
    * and computed column is hash-checked. */
  val decodeFeatures: Q = Q(
    "ext_mm_decode_features",
    s"""WITH $OracleTextBytes,
       |dims AS (SELECT doc_id, n, bl,
       |    (4 * (1 + tsum % 32))::INT AS width,
       |    (1 + n % 24)::INT AS height FROM g),
       |px AS (SELECT doc_id, n, width, height,
       |    width * 3 * height AS npix,
       |    list_transform(range(0, width * 3 * height),
       |      i -> CASE WHEN n = 0 THEN 0 ELSE bl[(i % n) + 1] END) AS pl
       |  FROM dims)
       |SELECT doc_id, (54 + npix)::BIGINT AS n_bytes, width, height,
       |  24::INT AS bpp, npix::BIGINT AS pix_bytes,
       |  COALESCE(list_sum(pl), 0)::BIGINT AS pix_sum,
       |  COALESCE(list_min(pl), 0)::BIGINT AS pix_min,
       |  COALESCE(list_max(pl), 0)::BIGINT AS pix_max,
       |  len(list_distinct(pl))::BIGINT AS pix_distinct,
       |  len(list_filter(pl, x -> x >= 32 AND x <= 126))::BIGINT
       |    AS pix_printable,
       |  (CASE WHEN width >= height THEN 224
       |        ELSE greatest(1, (width * 224) // height) END)::INT AS target_w,
       |  (CASE WHEN width >= height THEN greatest(1, (height * 224) // width)
       |        ELSE 224 END)::INT AS target_h
       |FROM px ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    implicit val enc = Encoders.product[BmpFeatures]
    s.table("graft_media").mapPartitions { rows =>
      // real codecs amortize setup per batch here (open decoder once)
      rows.map(r => decodeBmp(r.getLong(0), r.getAs[Array[Byte]](1)))
    }.toDF()
      .orderBy("doc_id")
  }.copy(setup = Some(ensurePrepared _))

  /** Frame sampling: parse the staged y4m containers, one output row per
    * frame with the header dims, byte offset, and frame byte sum. Fan-out
    * of one media row into N frame rows without skew (frames of one item
    * stay in one partition). */
  /** y4m frame CTE chain shared by [[frameSample]] and [[sceneCuts]]:
    * replays the generator spec down to per-frame byte sums. */
  private def y4mFramesSql: String =
    s"""$OracleTextBytes,
       |dims AS (SELECT doc_id, n, bl,
       |    (2 + n % 6)::INT AS width,
       |    (2 + tsum % 4)::INT AS height,
       |    (1 + tsum % 8)::INT AS nf FROM g),
       |hdr AS (SELECT *,
       |    length('YUV4MPEG2 W' || width || ' H' || height ||
       |           ' F25:1 Ip A1:1 C444') + 1 AS hlen,
       |    3 * width * height AS fsz FROM dims),
       |frames AS (SELECT doc_id, n, bl, width, height, hlen, fsz,
       |    unnest(generate_series(0, nf - 1)) AS frame_idx FROM hdr),
       |fsum AS (SELECT doc_id, frame_idx, width, height, hlen, fsz,
       |  COALESCE(list_sum(list_transform(range(0, fsz),
       |    i -> CASE WHEN n = 0 THEN 0
       |         ELSE bl[((frame_idx * fsz + i) % n) + 1] END)), 0)::BIGINT
       |    AS frame_sum
       |  FROM frames)""".stripMargin

  val frameSample: Q = Q(
    "ext_mm_frame_sample",
    s"""WITH $y4mFramesSql
       |SELECT doc_id, frame_idx::BIGINT AS frame_idx, width, height,
       |  (hlen + frame_idx * (6 + fsz) + 6)::BIGINT AS frame_off,
       |  frame_sum
       |FROM fsum ORDER BY doc_id, frame_idx""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    implicit val enc = Encoders.product[FrameRow]
    s.table("graft_video").mapPartitions { rows =>
      rows.flatMap(r => decodeY4m(r.getLong(0), r.getAs[Array[Byte]](1)))
    }.toDF()
      .orderBy("doc_id", "frame_idx")
  }.copy(setup = Some(ensurePrepared _))

  /** Scene-cut detection over the parsed video frames — the shot-
    * boundary step of a video curation pipeline (threshold detector on
    * consecutive-frame difference; real pipelines difference decoded
    * luma histograms, this stages the same plumbing over the container-
    * parsed frame sums). A cut fires when the absolute frame-sum jump
    * exceeds 3 x frame-size (mean per-pixel jump > 3 byte units) —
    * integer-exact in both engines. Per video: frame count, cut count,
    * and the largest jump.
    *
    * Scale shape: frames of one video stay in one partition (the
    * [[frameSample]] fan-out); the lag window partitions BY VIDEO
    * (bounded by frames-per-video, never corpus-sized) and the rollup
    * keys on doc_id. */
  val sceneCuts: Q = Q(
    "ext_mm_scene_cuts",
    s"""WITH $y4mFramesSql,
       |difs AS (SELECT doc_id, fsz, frame_sum,
       |    frame_sum - lag(frame_sum) OVER (PARTITION BY doc_id
       |      ORDER BY frame_idx) AS dlt
       |  FROM fsum)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
       |  CAST(COUNT(*) FILTER (WHERE abs(dlt) > 3 * fsz) AS BIGINT)
       |    AS n_cuts,
       |  CAST(COALESCE(MAX(abs(dlt)), 0) AS BIGINT) AS max_jump
       |FROM difs GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    import org.apache.spark.sql.expressions.Window
    implicit val enc = Encoders.product[FrameRow]
    val frames = s.table("graft_video").mapPartitions { rows =>
      rows.flatMap(r => decodeY4m(r.getLong(0), r.getAs[Array[Byte]](1)))
    }.toDF()
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    frames
      .withColumn("dlt", col("frame_sum") - lag(col("frame_sum"), 1).over(w))
      .withColumn("fsz", lit(3) * col("width") * col("height"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        count(when(abs(col("dlt")) > col("fsz") * 3, 1)).as("n_cuts"),
        coalesce(max(abs(col("dlt"))), lit(0L)).cast("long").as("max_jump"))
      .orderBy("doc_id")
  }.copy(setup = Some(ensurePrepared _))

  /** Audio decode / feature-extract: staged RIFF/WAVE blobs in, typed
    * audio features out. Spark chunk-walks the real container; the
    * oracle replays the generator spec (rate/channels/length from text
    * stats, samples = cycled text bytes) so every parsed field and every
    * amplitude statistic is hash-checked. */
  val audioFeatures: Q = Q(
    "ext_mm_audio_features",
    s"""WITH $OracleTextBytes,
       |spec AS (SELECT doc_id, n, bl,
       |    (8000 + (tsum % 9) * 1000)::INT AS sample_rate,
       |    (1 + tsum % 2)::INT AS channels,
       |    (64 + n % 192)::BIGINT AS nsamp FROM g),
       |pcm AS (SELECT doc_id, n, sample_rate, channels, nsamp,
       |    channels * nsamp AS dlen,
       |    list_transform(range(0, channels * nsamp),
       |      i -> CASE WHEN n = 0 THEN 0 ELSE bl[(i % n) + 1] END) AS sl
       |  FROM spec)
       |SELECT doc_id, (44 + dlen)::BIGINT AS n_bytes, sample_rate,
       |  channels, 8::INT AS bits, nsamp AS n_samples,
       |  (nsamp * 1000 // sample_rate)::BIGINT AS duration_ms,
       |  COALESCE(list_sum(sl), 0)::BIGINT AS amp_sum,
       |  COALESCE(list_sum(list_transform(sl,
       |    x -> (x - 128) * (x - 128))), 0)::BIGINT AS amp_sqsum,
       |  COALESCE(list_min(sl), 0)::BIGINT AS amp_min,
       |  COALESCE(list_max(sl), 0)::BIGINT AS amp_max
       |FROM pcm ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    implicit val enc = Encoders.product[WavFeatures]
    s.table("graft_audio").mapPartitions { rows =>
      rows.map(r => decodeWav(r.getLong(0), r.getAs[Array[Byte]](1)))
    }.toDF()
      .orderBy("doc_id")
  }.copy(setup = Some(ensurePrepared _))

  /** One decoded channel's statistics (24-bpp BGR: channel 0 = blue). */
  final case class ChannelStats(doc_id: Long, channel: Int, c_bytes: Long,
      c_sum: Long, c_min: Long, c_max: Long)

  /** Per-channel pixel statistics — the channel loop a real image
    * pipeline runs (mean-per-channel normalization, grayscale checks).
    * Parses the same header as [[decodeBmp]], then walks the payload
    * with stride 3 per channel; BMP rows here are padding-free (the
    * generator's width is a multiple of 4, so the row stride w*3 is
    * divisible by 3 and channel = payload index mod 3 globally — the
    * property the oracle's replay relies on). Emits 3 rows per image. */
  private[graft] def decodeChannels(docId: Long,
      b: Array[Byte]): Seq[ChannelStats] = {
    def u8(i: Int): Int = b(i) & 0xff
    def le32(i: Int): Int =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    require(b.length >= BmpHeaderLen && b(0) == 'B' && b(1) == 'M',
      s"doc $docId: not a BMP blob")
    val off = le32(10)
    val npix = b.length - off
    require(npix % 3 == 0, s"doc $docId: payload not channel-aligned")
    (0 until 3).map { c =>
      var i = off + c
      var sum = 0L
      var mn = if (npix == 0) 0L else 255L
      var mx = 0L
      var cnt = 0L
      while (i < b.length) {
        val v = b(i) & 0xff
        sum += v; cnt += 1
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 3
      }
      ChannelStats(docId, c, cnt, sum, mn, mx)
    }
  }

  /** Gate row: per-channel stats, oracle-replayed from the generator
    * spec (byte i of the payload cycles the text; channel = i mod 3). */
  val channelStats: Q = Q(
    "ext_mm_channel_stats",
    s"""WITH $OracleTextBytes,
       |dims AS (SELECT doc_id, n, bl,
       |    (4 * (1 + tsum % 32))::INT AS width,
       |    (1 + n % 24)::INT AS height FROM g),
       |px AS (SELECT doc_id, n, bl,
       |    width * 3 * height AS npix FROM dims),
       |ch AS (SELECT doc_id, npix, n, bl,
       |    unnest([0, 1, 2]) AS channel FROM px),
       |cl AS (SELECT doc_id, channel,
       |    list_transform(range(0, npix // 3),
       |      k -> CASE WHEN n = 0 THEN 0
       |           ELSE bl[((3 * k + channel) % n) + 1] END) AS cs
       |  FROM ch)
       |SELECT doc_id, channel::INT AS channel,
       |  len(cs)::BIGINT AS c_bytes,
       |  COALESCE(list_sum(cs), 0)::BIGINT AS c_sum,
       |  COALESCE(list_min(cs), 0)::BIGINT AS c_min,
       |  COALESCE(list_max(cs), 0)::BIGINT AS c_max
       |FROM cl ORDER BY doc_id, channel""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    implicit val enc = Encoders.product[ChannelStats]
    s.table("graft_media").mapPartitions { rows =>
      rows.flatMap(r => decodeChannels(r.getLong(0),
        r.getAs[Array[Byte]](1)))
    }.toDF()
      .orderBy("doc_id", "channel")
  }.copy(setup = Some(ensurePrepared _))

  /** One audio frame's energy: 16 PCM bytes (channel-interleaved, last
    * frame may be short), energy = sum of squared midpoint-centered
    * amplitudes — the per-frame statistic every energy-gated VAD starts
    * from. */
  final case class FrameEnergy(doc_id: Long, f: Long, e: Long)

  private val VadFrameBytes = 16

  /** Chunk-walk the RIFF container (the [[decodeWav]] checks, kept
    * loud) and emit one energy row per [[VadFrameBytes]]-byte frame of
    * the PCM payload. Pure function of the blob. */
  private[graft] def frameEnergies(docId: Long,
      b: Array[Byte]): Seq[FrameEnergy] = {
    def u8(i: Int): Int = b(i) & 0xff
    def le32(i: Int): Int =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def tag(i: Int): String = new String(b, i, 4, "US-ASCII")
    require(b.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE",
      s"doc $docId: not a RIFF/WAVE blob")
    require(le32(4) == b.length - 8, s"doc $docId: RIFF size mismatch")
    var pos = 12
    var fmtOff = -1
    var dataOff = -1
    var dataLen = -1
    while (pos + 8 <= b.length && (fmtOff < 0 || dataOff < 0)) {
      val t = tag(pos); val len = le32(pos + 4)
      require(pos + 8 + len <= b.length,
        s"doc $docId: chunk '$t' overruns the container")
      if (t == "fmt ") fmtOff = pos + 8
      else if (t == "data") { dataOff = pos + 8; dataLen = len }
      pos += 8 + len + (len & 1)
    }
    require(fmtOff >= 0 && dataOff >= 0,
      s"doc $docId: missing fmt/data chunk")
    require(le16(fmtOff) == 1 && le16(fmtOff + 14) == 8,
      s"doc $docId: not 8-bit PCM")
    val nFrames = (dataLen + VadFrameBytes - 1) / VadFrameBytes
    (0 until nFrames).map { f =>
      var e = 0L
      var i = dataOff + f * VadFrameBytes
      val end = math.min(dataOff + (f + 1) * VadFrameBytes,
        dataOff + dataLen)
      while (i < end) {
        val c = (b(i) & 0xff) - 128
        e += (c * c).toLong
        i += 1
      }
      FrameEnergy(docId, f.toLong, e)
    }
  }

  /** Energy-gated voice-activity detection over the staged WAV blobs:
    * per-clip frame energies, a frame is ACTIVE when its energy is
    * strictly above the clip mean (`e * n_frames > total_energy` — the
    * integer-exact form, no float threshold), and consecutive active
    * frames merge into segments by the gaps-and-islands idiom
    * (frame_idx - row_number). Output is the per-clip VAD census a
    * speech pipeline filters on (silence-only clips out, longest-burst
    * length as a quality feature) before any expensive transcription.
    *
    * Scale shape: decode is an embarrassingly parallel flatMap; every
    * window partitions BY CLIP over its own frames (duration-bounded —
    * frames per clip = payload/16, never corpus-sized); the rest is
    * map-side-combined aggregates. The oracle replays the generator
    * spec byte-for-byte ([[audioFeatures]] convention), so frame
    * energies, the activity threshold, and the island bookkeeping are
    * all hash-checked.
    */
  val audioVad: Q = Q(
    "ext_mm_audio_vad",
    s"""WITH $OracleTextBytes,
       |spec AS (SELECT doc_id, n, bl,
       |    (1 + tsum % 2)::INT AS channels,
       |    (64 + n % 192)::BIGINT AS nsamp FROM g),
       |pcm AS (SELECT doc_id, n, bl, channels * nsamp AS dlen FROM spec),
       |fr AS (SELECT doc_id, n, bl, dlen,
       |    unnest(range(0, (dlen + 15) // 16)) AS f FROM pcm),
       |fe AS (SELECT doc_id, f,
       |    CAST(list_sum(list_transform(
       |      range(16 * f, least(16 * (f + 1), dlen)),
       |      i -> CASE WHEN n = 0 THEN 16384
       |           ELSE (bl[(i % n) + 1] - 128) * (bl[(i % n) + 1] - 128)
       |           END)) AS BIGINT) AS e
       |  FROM fr),
       |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf,
       |    CAST(SUM(e) AS BIGINT) AS te FROM fe GROUP BY 1),
       |isl AS (
       |  SELECT fe.doc_id, fe.f,
       |    fe.f - row_number() OVER (PARTITION BY fe.doc_id ORDER BY fe.f)
       |      AS grp
       |  FROM fe JOIN tot t ON t.doc_id = fe.doc_id
       |  WHERE fe.e * t.nf > t.te),
       |seg AS (SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
       |    MIN(f) AS st FROM isl GROUP BY 1, 2),
       |ss AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
       |    CAST(SUM(len) AS BIGINT) AS n_active, MAX(len) AS longest,
       |    MIN(st) AS first_st FROM seg GROUP BY 1)
       |SELECT t.doc_id, t.nf AS n_frames,
       |  COALESCE(ss.n_active, 0) AS n_active,
       |  COALESCE(ss.n_segments, 0) AS n_segments,
       |  COALESCE(ss.longest, 0) AS longest_frames,
       |  COALESCE(ss.first_st, -1) AS first_active_frame
       |FROM tot t LEFT JOIN ss ON ss.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    import org.apache.spark.sql.expressions.Window
    implicit val enc = Encoders.product[FrameEnergy]
    // SIZE-GATED checkpoint (round 20): fe is planned 3x below (tot,
    // isl's probe side, and tot's copy under the join) — each replan
    // re-DECODES every staged WAV blob. Too cheap to materialize at
    // fixture scale (0.21 s row, r19 note), dominant at corpus scale;
    // see eagerCheckpointAtScale.
    val fe = s.table("graft_audio").mapPartitions { rows =>
      rows.flatMap(r => frameEnergies(r.getLong(0),
        r.getAs[Array[Byte]](1)))
    }.toDF().eagerCheckpointAtScale()
    val tot = fe.groupBy("doc_id")
      .agg(count(lit(1)).as("nf"), sum(col("e")).cast("long").as("te"))
    val isl = fe.join(tot, Seq("doc_id"))
      .filter(col("e") * col("nf") > col("te"))
      .withColumn("grp", col("f") - row_number().over(
        Window.partitionBy("doc_id").orderBy("f")))
    val seg = isl.groupBy("doc_id", "grp")
      .agg(count(lit(1)).as("len"), min(col("f")).as("st"))
    val ss = seg.groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(col("len")).cast("long").as("n_active"),
        max(col("len")).as("longest"), min(col("st")).as("first_st"))
    tot.join(ss, Seq("doc_id"), "left")
      .select(col("doc_id"), col("nf").as("n_frames"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("longest"), lit(0L)).as("longest_frames"),
        coalesce(col("first_st"), lit(-1L)).as("first_active_frame"))
      .orderBy("doc_id")
  }.copy(setup = Some(ensurePrepared _))

  // ------------------------------------------------------- perceptual hash

  final case class AHashSig(doc_id: Long, b0: Long, b1: Long, b2: Long,
      b3: Long)

  /** Average-hash signature over the BMP pixel payload: 64 equal-share
    * byte chunks (chunk of byte i = `i*64 // npix`), bit c set iff the
    * chunk mean >= the global mean — compared in cleared-division
    * integer form `sum_c * npix >= total * n_c`, exact. Bits pack into
    * four 16-bit band ints (the blocking unit AND the hamming unit). */
  private[graft] def bmpAHash(docId: Long, b: Array[Byte]): AHashSig = {
    def u8(i: Int): Int = b(i) & 0xff
    def le32(i: Int): Int =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    require(b.length >= BmpHeaderLen && b(0) == 'B' && b(1) == 'M',
      s"doc $docId: not a BMP blob")
    val off = le32(10)
    val npix = b.length - off
    require(npix > 0, s"doc $docId: empty pixel payload")
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var i = 0
    while (i < npix) {
      val c = ((i.toLong * 64L) / npix).toInt
      sums(c) += u8(off + i)
      cnts(c) += 1
      i += 1
    }
    val total = sums.sum
    val bands = new Array[Long](4)
    var c = 0
    while (c < 64) {
      if (cnts(c) > 0 && sums(c) * npix >= total * cnts(c))
        bands(c / 16) |= 1L << (c % 16)
      c += 1
    }
    AHashSig(docId, bands(0), bands(1), bands(2), bands(3))
  }

  /** Per-band bucket cap (documents per (band, value) bucket): hot
    * buckets — near-constant images — are dropped from candidate
    * generation, mirrored in the oracle (the [[Dedup]] BucketCap
    * discipline). */
  private val PhashBucketCap = 64
  private val HamMax = 8

  /** Perceptual near-duplicate image pairs: average-hash signatures
    * (Hamming-space image dedup — the visual analogue of simhash;
    * aHash per Krawetz, and the banding is Charikar/LSH pigeonhole: at
    * Hamming <= [[HamMax]] = 8 over 64 bits split into 4 bands of 16,
    * any qualifying pair... may still differ in every band only if all
    * 8 flips spread across all 4 bands with >= 1 each — so the 4-band
    * OR-block is a heuristic recall stage exactly like production
    * pHash dedup, and the DECLARED pair semantics (mirrored by the
    * oracle bit-for-bit) is "shares at least one intact band AND
    * exact Hamming <= 8". Verification is exact
    * `bit_count(xor(band_a, band_b))` summed over the four bands.
    *
    * Spark decodes the STAGED blobs in `mapPartitions` (the codec
    * batching seam); the oracle — blind to the staged table — replays
    * the generator spec down to every chunk sum. A corrupted stage or a
    * drifted chunk boundary goes hash-red. Scale shape: signature build
    * is one decode pass; candidates are an equi-join on (band, value)
    * with the bucket cap bounding fan-out; verify is O(candidates). */
  val phashPairs: Q = Q(
    "ext_mm_phash_pairs",
    s"""WITH $OracleTextBytes,
       |dims AS (SELECT doc_id, n, bl,
       |    (4 * (1 + tsum % 32))::INT AS width,
       |    (1 + n % 24)::INT AS height FROM g),
       |px AS (SELECT doc_id, n, bl, width * 3 * height AS npix FROM dims),
       |chunks AS (
       |  SELECT doc_id, npix,
       |    (i * 64) // npix AS cid,
       |    CASE WHEN n = 0 THEN 0 ELSE bl[(i % n) + 1] END AS v
       |  FROM px CROSS JOIN LATERAL (
       |    SELECT unnest(range(0, npix)) AS i) ii),
       |cs AS (SELECT doc_id, npix, cid, CAST(SUM(v) AS BIGINT) AS s,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM chunks GROUP BY 1, 2, 3),
       |tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS t FROM cs
       |  GROUP BY 1),
       |bits AS (
       |  SELECT cs.doc_id, cid,
       |    CASE WHEN s * npix >= t * c THEN 1::BIGINT ELSE 0::BIGINT END
       |      AS bit
       |  FROM cs JOIN tot ON tot.doc_id = cs.doc_id),
       |sig AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN cid // 16 = 0
       |      THEN bit << (cid % 16) ELSE 0 END) AS b0,
       |    SUM(CASE WHEN cid // 16 = 1
       |      THEN bit << (cid % 16) ELSE 0 END) AS b1,
       |    SUM(CASE WHEN cid // 16 = 2
       |      THEN bit << (cid % 16) ELSE 0 END) AS b2,
       |    SUM(CASE WHEN cid // 16 = 3
       |      THEN bit << (cid % 16) ELSE 0 END) AS b3
       |  FROM bits GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, b0 AS bv FROM sig
       |  UNION ALL SELECT doc_id, 1, b1 FROM sig
       |  UNION ALL SELECT doc_id, 2, b2 FROM sig
       |  UNION ALL SELECT doc_id, 3, b3 FROM sig),
       |hot AS (
       |  SELECT band, bv FROM bands GROUP BY band, bv
       |  HAVING COUNT(*) > $PhashBucketCap),
       |bandsOk AS (
       |  SELECT b.* FROM bands b ANTI JOIN hot h
       |    ON h.band = b.band AND h.bv = b.bv),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bandsOk a JOIN bandsOk b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
       |     + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
       |    AS BIGINT) AS hamming
       |FROM cand JOIN sig sa ON sa.doc_id = doc_a
       |  JOIN sig sb ON sb.doc_id = doc_b
       |WHERE bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
       |    + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
       |  <= $HamMax
       |ORDER BY doc_a, doc_b""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    implicit val enc = Encoders.product[AHashSig]
    val sig = s.table("graft_media").mapPartitions { rows =>
      rows.map(r => bmpAHash(r.getLong(0), r.getAs[Array[Byte]](1)))
    }.toDF().eagerCheckpoint()
    val bands = sig.select(col("doc_id"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"), col(s"b$i").as("bv"))): _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bv").as("bv"))
    val hot = bands.groupBy("band", "bv").count()
      .filter(col("count") > PhashBucketCap).select("band", "bv")
    val bandsOk = bands.join(hot, Seq("band", "bv"), "left_anti")
    val cand = bandsOk.as("a")
      .join(bandsOk.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val ham = (0 until 4).map(i =>
      expr(s"bit_count(sa_b$i ^ sb_b$i)")).reduce(_ + _)
    def side(p: String) = sig.select(col("doc_id").as(s"${p}_id") +:
      (0 until 4).map(i => col(s"b$i").as(s"${p}_b$i")): _*)
    cand
      .join(side("sa"), col("sa_id") === col("doc_a"))
      .join(side("sb"), col("sb_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), ham.cast("long").as("hamming"))
      .filter(col("hamming") <= HamMax)
      .orderBy("doc_a", "doc_b")
  }.copy(setup = Some(ensurePrepared _))

  val all: Seq[Q] = Seq(binaryMeta, decodeFeatures, frameSample,
    sceneCuts, audioFeatures, channelStats, audioVad, phashPairs)
}
