package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal plumbing (SURVEY §2.F): opaque binary payload columns +
  * typed metadata, with the decode step stubbed.
  *
  * What is REAL here — and what the spec tests — is the Spark-side
  * shape a multimodal pipeline needs at 100 TB: a `binary` payload
  * column carried through the scan, a typed per-record metadata schema,
  * and partition-wise batched decoding via `mapPartitions` over a typed
  * Dataset (the Scala analog of `mapInPandas`: the decoder library is
  * initialized once per partition, not once per row, and rows stream
  * through without materializing the partition).
  *
  * The decode stage dispatches through `decode`: REAL container
  * parsing first (RIFF/WAVE PCM, BMP and PNG IHDR headers — pure JVM,
  * no codec library; spec-fed with constructed bytes), then
  * `decodeStub`'s deterministic pseudo-metadata for the synthetic
  * corpus (this container ships no pixel/sample codecs). Swapping in
  * libjpeg/ffmpeg adds another sniffing arm to `decode`; nothing else
  * changes — the three header arms are the proof.
  */
object MultimodalOps {

  /** One media object: id + modality tag + opaque payload. */
  case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Typed decode output — the schema a downstream training pipeline
    * would select/filter on without touching payload bytes again.
    */
  case class MediaMeta(doc_id: Long, media_type: String, n_bytes: Long,
                       width: Int, height: Int, channels: Int,
                       duration_ms: Long, checksum: Long)

  /** Payload checksum — md5-derived (first 8 digest bytes, big-endian;
    * graft.functions.Md5Hash64.hashBytes) since round 7, replacing
    * FNV-1a: deterministic and partitioning-independent like before,
    * but ALSO replayable by a DuckDB oracle (the synthetic payloads
    * are UTF-8 text, so this equals parsing md5(text)'s first 16 hex
    * chars — the same contract c2/c3 use), which is what flips the
    * f-family from rows-only to hash-checked.
    */
  private def checksum64(bytes: Array[Byte]): Long =
    graft.functions.Md5Hash64.hashBytes(bytes)

  /** REAL decoder arm — RIFF/WAVE PCM header parse, pure JVM (a WAV
    * header is length-prefixed chunks; no codec library needed).
    * Returns None for anything that is not a well-formed WAV, which
    * then falls to the stub. This is the "swap in a real codec" seam
    * exercised for real: `decode` sniffs magic bytes first, exactly
    * as a production decode stage dispatches per container format.
    */
  private[graft] def decodeWav(doc_id: Long, bytes: Array[Byte]): Option[MediaMeta] = {
    def le16(o: Int) = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8)
    def le32(o: Int) = (bytes(o) & 0xFFL) | ((bytes(o + 1) & 0xFFL) << 8) |
                       ((bytes(o + 2) & 0xFFL) << 16) | ((bytes(o + 3) & 0xFFL) << 24)
    def tag(o: Int) = new String(bytes, o, 4, "US-ASCII")
    if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") None
    else {
      // walk the chunk list for fmt + data (other chunks tolerated).
      // The 32-bit chunk length is UNTRUSTED: a corrupt/adversarial
      // value (e.g. 0xFFFFFFF8 → len.toInt = -8) would stall or
      // reverse the walk — an infinite executor loop or a negative
      // offset into tag(). Bail to None (the stub arm handles the
      // record) on any length that is negative, larger than the
      // payload, or that fails to advance the offset strictly.
      var off = 12
      var fmt = -1; var dataLen = -1L
      var corrupt = false
      while (!corrupt && off + 8 <= bytes.length && (fmt < 0 || dataLen < 0)) {
        val id = tag(off); val len = le32(off + 4)
        if (len < 0 || len > bytes.length) corrupt = true
        else {
          if (id == "fmt ") fmt = off + 8
          else if (id == "data") dataLen = len
          val next = off + 8 + len.toInt + (len.toInt & 1) // 2-aligned
          if (next <= off) corrupt = true else off = next
        }
      }
      if (corrupt || fmt < 0 || dataLen < 0 || fmt + 16 > bytes.length) None
      else {
        val channels = le16(fmt + 2)
        val byteRate = le32(fmt + 8)
        if (channels < 1 || byteRate <= 0) None
        else Some(MediaMeta(doc_id, "audio", bytes.length,
          0, 0, channels, dataLen * 1000L / byteRate, checksum64(bytes)))
      }
    }
  }

  /** REAL decoder arm #2 — BMP (BITMAPINFOHEADER) header parse: "BM"
    * magic, signed width/height at 18/22 (negative height = top-down
    * row order), bits-per-pixel at 28. Exact dimensions for real BMP
    * payloads; None for anything else.
    */
  private[graft] def decodeBmp(doc_id: Long, bytes: Array[Byte]): Option[MediaMeta] = {
    def le32(o: Int) = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8) |
                       ((bytes(o + 2) & 0xFF) << 16) | ((bytes(o + 3) & 0xFF) << 24)
    def le16(o: Int) = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8)
    if (bytes.length < 54 || bytes(0) != 'B'.toByte || bytes(1) != 'M'.toByte ||
        le32(14) < 40) None
    else {
      val w = le32(18); val h = le32(22); val bpp = le16(28)
      if (w <= 0 || h == 0 || bpp < 1) None
      else Some(MediaMeta(doc_id, "image", bytes.length,
        w, math.abs(h), math.max(1, bpp / 8), 0L, checksum64(bytes)))
    }
  }

  /** REAL decoder arm #3 — PNG IHDR parse: the 8-byte signature, then
    * the mandatory first chunk must be IHDR (13-byte payload) with
    * big-endian width/height at 16/20, bit depth at 24 and color type
    * at 25 (channel count follows from the color type). Exact
    * dimensions for real PNG payloads; None for anything else.
    */
  private[graft] def decodePng(doc_id: Long, bytes: Array[Byte]): Option[MediaMeta] = {
    def be32(o: Int) = ((bytes(o) & 0xFF) << 24) | ((bytes(o + 1) & 0xFF) << 16) |
                       ((bytes(o + 2) & 0xFF) << 8) | (bytes(o + 3) & 0xFF)
    val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    if (bytes.length < 33 || !bytes.take(8).sameElements(sig) ||
        be32(8) != 13 || new String(bytes, 12, 4, "US-ASCII") != "IHDR") None
    else {
      val w = be32(16); val h = be32(20)
      val channels = bytes(25) match {
        case 0 => 1   // grayscale
        case 2 => 3   // truecolor
        case 3 => 1   // indexed
        case 4 => 2   // gray + alpha
        case 6 => 4   // RGBA
        case _ => -1
      }
      // PNG-legal bit depths per color type (spec §11.2.2): grayscale
      // any of {1,2,4,8,16}, indexed ≤8, the multi-channel types only
      // {8,16} — an illegal depth/type combination is not a PNG.
      val depth = bytes(24).toInt
      val depthOk = bytes(25) match {
        case 0 => Set(1, 2, 4, 8, 16)(depth)
        case 3 => Set(1, 2, 4, 8)(depth)
        case 2 | 4 | 6 => depth == 8 || depth == 16
        case _ => false
      }
      if (w <= 0 || h <= 0 || channels < 0 || !depthOk) None
      else Some(MediaMeta(doc_id, "image", bytes.length,
        w, h, channels, 0L, checksum64(bytes)))
    }
  }

  /** REAL decoder arm #4 — JPEG SOF parse: SOI (FFD8), then a marker
    * walk (skipping fill bytes, standalone RST/TEM markers, and
    * length-prefixed segments) to the first start-of-frame marker
    * (FFC0–FFCF excluding DHT C4 / JPG C8 / DAC CC), whose payload
    * carries big-endian height/width and the component count —
    * exactly what a JFIF/EXIF file from any encoder emits. Exact
    * dimensions for real JPEG payloads without entropy-decoding a
    * single MCU; None for anything else (truncated stream, EOI or
    * scan data before a frame header, zero dimensions).
    */
  private[graft] def decodeJpeg(doc_id: Long, bytes: Array[Byte]): Option[MediaMeta] = {
    def u8(o: Int) = bytes(o) & 0xFF
    def be16(o: Int) = (u8(o) << 8) | u8(o + 1)
    if (bytes.length < 4 || u8(0) != 0xFF || u8(1) != 0xD8) None
    else {
      var i = 2
      var out: Option[MediaMeta] = None
      var done = false
      while (!done && i + 1 < bytes.length) {
        if (u8(i) != 0xFF) done = true          // not a marker stream
        else {
          var j = i + 1
          while (j < bytes.length && u8(j) == 0xFF) j += 1   // fill bytes
          if (j >= bytes.length) done = true
          else u8(j) match {
            case 0xD8 | 0x01 => i = j + 1                    // SOI dup / TEM
            case m if m >= 0xD0 && m <= 0xD7 => i = j + 1    // RSTn
            case 0xD9 | 0xDA => done = true  // EOI / scan data before SOF
            case m =>
              if (j + 2 >= bytes.length) done = true
              else {
                val len = be16(j + 1)            // includes its own 2 bytes
                val isSof = m >= 0xC0 && m <= 0xCF &&
                  m != 0xC4 && m != 0xC8 && m != 0xCC
                if (isSof) {
                  if (len >= 9 && j + 8 < bytes.length) {
                    val h = be16(j + 4); val w = be16(j + 6); val nc = u8(j + 8)
                    if (w > 0 && h > 0 && nc > 0)
                      out = Some(MediaMeta(doc_id, "image", bytes.length,
                        w, h, nc, 0L, checksum64(bytes)))
                  }
                  done = true
                } else if (len < 2) done = true  // malformed segment
                else i = j + 1 + len
              }
          }
        }
      }
      out
    }
  }

  /** The decode dispatch every f-query runs: sniff real container
    * formats first (WAV + BMP + PNG + JPEG today; an mp4 probe lands
    * here the same way), fall back to the deterministic stub for the
    * synthetic corpus. The Spark-side shape (mapPartitions batching,
    * typed output, pre-decode pruning) is identical either way — which
    * is the point of the seam.
    */
  private[graft] def decode(r: MediaRecord): MediaMeta =
    decodeWav(r.doc_id, r.payload)
      .orElse(decodeBmp(r.doc_id, r.payload))
      .orElse(decodePng(r.doc_id, r.payload))
      .orElse(decodeJpeg(r.doc_id, r.payload))
      .getOrElse(decodeStub(r))

  /** STUB — deterministic fake decoder. A real implementation would
    * hand `payload` to libjpeg/ffmpeg here; the container ships no
    * codecs, so dimensions/duration are derived from the payload hash.
    */
  private def decodeStub(r: MediaRecord): MediaMeta = {
    val h = checksum64(r.payload)
    def pick(shift: Int, mod: Int, base: Int) =
      base + (((h >>> shift) % mod + mod) % mod).toInt
    r.media_type match {
      case "image" => MediaMeta(r.doc_id, r.media_type, r.payload.length,
        pick(0, 4096, 16), pick(12, 4096, 16), 3, 0L, h)
      case "audio" => MediaMeta(r.doc_id, r.media_type, r.payload.length,
        0, 0, pick(0, 2, 1), pick(8, 600000, 1000), h)
      case _       => MediaMeta(r.doc_id, r.media_type, r.payload.length,
        pick(0, 1920, 320), pick(12, 1080, 240), 3, pick(24, 7200000, 1000), h)
    }
  }

  /** The media table: documents re-cast as binary payloads with a
    * modality tag (source-derived). At production scale this is the
    * real ingest table — binary column + partition-friendly id.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    mediaFrom(Tables.documents(spark, dir))

  /** [[mediaTable]]'s projection over a caller-supplied documents
    * frame — pure per-row expressions, so it composes with the
    * documents STREAM unchanged (the streaming image gate's source).
    */
  private[graft] def mediaFrom(docsDf: DataFrame): DataFrame =
    docsDf.select(
      col("doc_id"),
      // md5-derived (was xxhash64) since round 7 so the modality
      // assignment replays in a DuckDB oracle
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(graft.functions.Md5Hash64(col("source")), lit(3)) + 1)
          .cast("int")).as("media_type"),
      col("text").cast("binary").as("payload"))

  /** One sampled frame: parent id + frame index/timestamp + a frame
    * feature vector (stubbed — a real decoder emits pixels/features).
    */
  case class Frame(doc_id: Long, frame_idx: Int, ts_ms: Long,
                   feature: Array[Float])

  /** STUB frame sampler: yields one Frame per second of fake duration
    * (capped), features derived from the payload hash. The ITERATOR
    * shape is the real part: frames stream out of mapPartitions
    * lazily via flatMap — a 2-hour video never materializes all its
    * frames in memory at once.
    */
  private def sampleFramesStub(r: MediaRecord, maxFrames: Int): Iterator[Frame] = {
    val meta = decode(r)
    val n = math.min(math.max(1L, meta.duration_ms / 1000L), maxFrames.toLong).toInt
    Iterator.tabulate(n) { i =>
      val seed = meta.checksum ^ (i.toLong * 0x9E3779B97F4A7C15L)
      val feat = Array.tabulate(8)(d =>
        (((seed >>> (d * 8)) & 0xFF).toInt - 128) / 128.0f)
      Frame(r.doc_id, i, i * 1000L, feat)
    }
  }

  /** f2: frame sampling — explode each media object into sampled
    * frames with per-frame features, then aggregate per parent. The
    * flatMap-through-mapPartitions shape is what a real video pipeline
    * needs at scale: decoder state per partition, lazy frame streams,
    * and a declarative plan on both sides of the boundary.
    */
  def frameSample(spark: SparkSession, dir: String,
                  maxFrames: Int = 16): DataFrame = {
    import spark.implicits._
    val frames = mediaTable(spark, dir)
      .as[MediaRecord]
      .mapPartitions(_.flatMap(sampleFramesStub(_, maxFrames)))
    frames.toDF()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
           max(col("ts_ms")).as("last_frame_ms"),
           round(avg(element_at(col("feature"), 1)), 6).as("avg_feat0"))
      .orderBy(col("doc_id"))
  }

  /** One fixed-length analysis window of an audio stream (STFT-style
    * framing: window length + hop, overlapping when hop < window).
    */
  case class AudioWin(doc_id: Long, win_idx: Int, start_ms: Long, rms: Double)

  /** STUB audio framer: yields the window grid a real feature
    * extractor (mel/STFT) would compute — count from the decoded
    * duration, 50% overlap by default, capped. RMS is hash-derived;
    * the REAL parts are the framing arithmetic, the lazy iterator
    * (a long stream never materializes all windows), and the
    * modality filter running BEFORE decode.
    */
  /** The stub arm's per-window 16-bit energy field — shared by f4's
    * rms (field / 65535) and f8's fingerprint deltas (the division is
    * strictly monotone, so comparing fields ≡ comparing rms), kept in
    * one place so the two stubs can never drift.
    */
  private def stubWinField(checksum: Long, i: Int): Int =
    (((checksum ^ (i.toLong * 0xD6E8FEB86659FD93L)) >>> 16) & 0xFFFF).toInt

  private def audioWindowsStub(r: MediaRecord, winMs: Long, hopMs: Long,
                               maxWins: Int): Iterator[AudioWin] = {
    val meta = decode(r)
    val dur = math.max(meta.duration_ms, winMs)
    val n = math.min((dur - winMs) / hopMs + 1L, maxWins.toLong).toInt
    Iterator.tabulate(n) { i =>
      AudioWin(r.doc_id, i, i * hopMs,
               stubWinField(meta.checksum, i).toDouble / 65535.0)
    }
  }

  /** f4: audio fixed-window framing — f2's audio twin. Modality is
    * pruned declaratively BEFORE the decode boundary (the predicate
    * reaches the scan; only audio payloads cross into mapPartitions),
    * windows stream lazily, and the per-doc aggregate is an ordinary
    * partial-aggregable plan. peak_window picks via lexicographic
    * (rms, win_idx) max so ties are deterministic.
    */
  def audioWindows(spark: SparkSession, dir: String, winMs: Long = 1000L,
                   hopMs: Long = 500L, maxWins: Int = 32): DataFrame = {
    import spark.implicits._
    val wins = mediaTable(spark, dir)
      .filter(col("media_type") === "audio")
      .as[MediaRecord]
      .mapPartitions(_.flatMap(audioWindowsStub(_, winMs, hopMs, maxWins)))
    wins.toDF()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
           round(avg(col("rms")), 6).as("avg_rms"),
           round(max(col("rms")), 6).as("peak_rms"),
           max_by(col("win_idx"), struct(col("rms"), col("win_idx")))
             .as("peak_window"))
      .orderBy(col("doc_id"))
  }

  /** PCM16 sample access for f8's REAL audio arm: (channels,
    * byteRate, dataOff, dataLen) of a RIFF/WAVE payload whose fmt is
    * 16-bit integer PCM — the same chunk walk as [[decodeWav]], kept
    * separate because the fingerprint needs the sample OFFSET, not
    * just the metadata. None for anything else → stub arm.
    */
  private[graft] def wavPcm16(bytes: Array[Byte])
      : Option[(Int, Long, Int, Long)] = {
    def le16(o: Int) = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8)
    def le32(o: Int) = (bytes(o) & 0xFFL) | ((bytes(o + 1) & 0xFFL) << 8) |
                       ((bytes(o + 2) & 0xFFL) << 16) | ((bytes(o + 3) & 0xFFL) << 24)
    def tag(o: Int) = new String(bytes, o, 4, "US-ASCII")
    if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") None
    else {
      // same untrusted-length guards as decodeWav: a corrupt 32-bit
      // chunk length must route the record to the stub arm, never hang
      // the executor or throw out of the walk
      var off = 12
      var fmt = -1; var dataOff = -1; var dataLen = -1L
      var corrupt = false
      while (!corrupt && off + 8 <= bytes.length && (fmt < 0 || dataOff < 0)) {
        val id = tag(off); val len = le32(off + 4)
        if (len < 0 || len > bytes.length) corrupt = true
        else {
          if (id == "fmt ") fmt = off + 8
          else if (id == "data") { dataOff = off + 8; dataLen = len }
          val next = off + 8 + len.toInt + (len.toInt & 1)
          if (next <= off) corrupt = true else off = next
        }
      }
      if (corrupt || fmt < 0 || dataOff < 0 || fmt + 16 > bytes.length) None
      else {
        val audioFormat = le16(fmt)
        val channels = le16(fmt + 2)
        val byteRate = le32(fmt + 8)
        val bits = le16(fmt + 14)
        if (audioFormat != 1 || bits != 16 || channels < 1 || byteRate <= 0)
          None
        else Some((channels, byteRate, dataOff,
                   math.min(dataLen, (bytes.length - dataOff).toLong)))
      }
    }
  }

  /** True when any audio payload in the corpus parses as real PCM16
    * WAV — i.e. f8's REAL fingerprint arm ([[wavPcm16]]) would engage
    * on at least one row. The f8 oracle replays only the stub arm, so
    * a corpus where this is true must drop f8's SQL to a rows-only
    * check at oracle-dump time (the bpeOracleSql seam convention;
    * SparkEntry.oracleSqlFor consults this). One pruned scan with an
    * early-out per partition; only verify-time pays it.
    */
  def hasRealWav(spark: SparkSession, dir: String): Boolean = {
    import spark.implicits._
    !mediaTable(spark, dir)
      .filter(col("media_type") === "audio" && col("payload").isNotNull)
      .as[MediaRecord]
      .mapPartitions(_.filter(r => wavPcm16(r.payload).isDefined).take(1))
      .isEmpty
  }

  /** Per-doc audio fingerprint row (f8). */
  case class AudioFp(doc_id: Long, afp: Long, n_windows: Int)

  /** 64-bit audio fingerprint: energy-delta SIGN bits over the f4
    * window grid — bit i set when window i+1's energy exceeds window
    * i's (the Haitsma–Kalker 2002 sign-of-delta shape reduced to one
    * energy band). Sign-of-delta is what makes it a FINGERPRINT
    * rather than a hash: amplitude scaling (volume change, re-encode
    * gain) preserves every comparison, and localized noise flips only
    * the bits whose windows it touches — a noised copy lands within a
    * small hamming radius (spec-proven on constructed WAVs).
    *
    * Arms: REAL over 16-bit PCM WAV (per-window rms from the actual
    * samples; [[wavPcm16]]); deterministic stub field otherwise —
    * which keeps the registered query DuckDB-replayable on the
    * synthetic corpus, the f1/f5/f6 seam contract.
    */
  private[graft] def audioFingerprint(r: MediaRecord, winMs: Long,
                                      hopMs: Long, maxWins: Int): AudioFp = {
    val fields: Array[Double] = wavPcm16(r.payload) match {
      case Some((_, byteRate, dataOff, dataLen)) =>
        val durMs = dataLen * 1000L / byteRate
        val dur = math.max(durMs, winMs)
        val n = math.min((dur - winMs) / hopMs + 1L, maxWins.toLong).toInt
        Array.tabulate(n) { i =>
          // sample byte range of window i, clamped to the data chunk;
          // 16-bit frames → even offsets
          val from = dataOff + ((i * hopMs * byteRate / 1000L) & ~1L).toInt
          val until = math.min(
            dataOff + (((i * hopMs + winMs) * byteRate / 1000L) & ~1L),
            dataOff + dataLen).toInt
          var sum = 0.0; var k = from; var m = 0
          while (k + 1 < until) {
            val s = ((r.payload(k) & 0xFF) | (r.payload(k + 1) << 8)).toShort
            val v = s.toDouble / 32768.0
            sum += v * v; m += 1; k += 2
          }
          if (m == 0) 0.0 else math.sqrt(sum / m)
        }
      case None =>
        val meta = decode(r)
        val dur = math.max(meta.duration_ms, winMs)
        val n = math.min((dur - winMs) / hopMs + 1L, maxWins.toLong).toInt
        Array.tabulate(n)(i => stubWinField(meta.checksum, i).toDouble)
    }
    var fp = 0L
    var i = 0
    while (i < math.min(fields.length - 1, 64)) {
      if (fields(i + 1) > fields(i)) fp |= 1L << i
      i += 1
    }
    AudioFp(r.doc_id, fp, fields.length)
  }

  /** f8: audio near-dup — completes per-modality content dedup (c12
    * exact text, p11 fuzzy text, f6/f7 image, THIS audio): every audio
    * payload fingerprints to 64 delta-sign bits over its window grid,
    * then the EXACT f6 band/cap/verify machinery (C(6,3)
    * block-combination blocking — recall guaranteed to hamming 3 —
    * capped buckets, in-array pair
    * expansion, hamming verify, bidirectional min partner) finds
    * near-identical recordings. Docs with fewer than `minWins` windows
    * carry too few delta bits to be evidence (a 1-window doc has
    * fingerprint 0 — every such pair would "match" vacuously), so they
    * are EXCLUDED from candidacy and report an unmatched verdict; the
    * threshold is disclosed in the output via n_windows.
    *
    * 100 TB shape: fingerprinting is one mapPartitions scan of the
    * audio slice (modality predicate reaches the scan); the pair work
    * is band-bucketed and capped exactly like f6 — no all-pairs stage
    * at any scale.
    */
  /** The (doc_id, afp, n_windows) fingerprint stage over a media frame
    * — shared by f8's one-shot, f8b's batch/standing split, the landed
    * index build and the streaming audio gate. Callers that consume it
    * more than once checkpoint.
    */
  private[graft] def audioFped(media: DataFrame, winMs: Long = 1000L,
                               hopMs: Long = 500L,
                               maxWins: Int = 65): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("media_type") === "audio" && col("payload").isNotNull)
      .as[MediaRecord]
      .mapPartitions(_.map(audioFingerprint(_, winMs, hopMs, maxWins)))
      .toDF()
  }

  def audioNearDup(spark: SparkSession, dir: String, bucketCap: Int = 64,
                   maxHamming: Int = 3, winMs: Long = 1000L,
                   hopMs: Long = 500L, maxWins: Int = 65,
                   minWins: Int = 33): DataFrame = {
    val hashed = audioFped(mediaTable(spark, dir), winMs, hopMs, maxWins)
      .localCheckpoint(false)
    val eligible = hashed.filter(col("n_windows") >= minWins)
      .select(col("doc_id"), col("afp").as("phash"))
    val partners = nearDup64Partners(eligible, bucketCap, maxHamming)
    hashed.join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("afp"), col("n_windows"), col("dup_of"),
              col("dup_of").isNotNull.as("is_neardup"))
      .orderBy(col("doc_id"))
  }

  /** One resized image record: original + target geometry, the
    * resized payload size estimate, and the scale factor applied.
    */
  case class Resized(doc_id: Long, width: Int, height: Int,
                     out_w: Int, out_h: Int, scale: Double,
                     est_bytes: Long)

  /** REAL pixel arm for the resize stage — `javax.imageio` (public
    * JVM API, no native deps; PNG/BMP/GIF/JPEG via registered
    * readers). Decodes the payload to a BufferedImage, applies the
    * SAME aspect-preserving fit-inside geometry to actual pixels
    * (bilinear Graphics2D scale into a fresh raster), and reports the
    * resized raster's true byte footprint. None when no registered
    * reader recognizes the payload (the synthetic text corpus) — the
    * header/stub geometry then handles the record, so the registered
    * f5 query stays deterministic on the test data while real image
    * payloads take the real path end-to-end (spec-proven with
    * ImageIO-encoded PNG and BMP inputs).
    */
  /** Container magic sniff gating the ImageIO attempt: PNG, BMP, GIF,
    * JPEG. Without this gate every non-image payload (the entire
    * synthetic corpus) pays a full ImageIO reader search + stream
    * setup per ROW before failing — measured ~2.5x on f5 at sf0.1.
    * A real corpus pays nothing: its payloads match and proceed.
    */
  private def imageMagic(b: Array[Byte]): Boolean =
    b.length >= 4 && (
      (b(0) == 0x89.toByte && b(1) == 'P'.toByte) ||           // PNG
      (b(0) == 'B'.toByte && b(1) == 'M'.toByte) ||            // BMP
      (b(0) == 'G'.toByte && b(1) == 'I'.toByte &&
       b(2) == 'F'.toByte && b(3) == '8'.toByte) ||            // GIF
      (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte))            // JPEG

  private[graft] def resizePixels(doc_id: Long, bytes: Array[Byte],
                                  maxW: Int, maxH: Int): Option[Resized] = {
    val img =
      if (!imageMagic(bytes)) None
      else try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes)))
      // a malformed-but-sniffed payload must fall to the stub arm, not
      // kill the partition (readers throw IIOException and occasionally
      // unchecked errors on truncated data)
      catch { case scala.util.control.NonFatal(_) => None }
    img.map { im =>
      val (w, h) = (im.getWidth, im.getHeight)
      val scale = math.min(
        1.0, math.min(maxW.toDouble / w, maxH.toDouble / h))
      val ow = math.max(1, math.floor(w * scale).toInt)
      val oh = math.max(1, math.floor(h * scale).toInt)
      val out = new java.awt.image.BufferedImage(
        ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(im, 0, 0, ow, oh, null)
      g.dispose()
      val channels = im.getColorModel.getNumComponents
      Resized(doc_id, w, h, out.getWidth, out.getHeight,
              BigDecimal(scale).setScale(6, BigDecimal.RoundingMode.HALF_UP)
                .toDouble,
              out.getWidth.toLong * out.getHeight.toLong * channels)
    }
  }

  /** f5: batch thumbnail/resize — the remaining north-star verb
    * (decode f1, features/frames f2/f4, resize here). The REAL parts:
    * a true pixel path (`resizePixels` — javax.imageio decode +
    * bilinear rescale) for payloads a registered reader recognizes,
    * aspect-preserving fit-inside geometry (never upscale) shared
    * with the header/stub arm for everything else, modality pruned
    * declaratively before the decode boundary, and the per-partition
    * batch shape a real libvips resizer drops into (decoder + scaler
    * state initialized once per partition).
    */
  /** The resize stage over a caller-supplied media Dataset (un-sorted)
    * — shared by f5, the bench per-stage split, and the spec's
    * real-PNG/BMP end-to-end feed.
    */
  private[graft] def resizedFrom(media: org.apache.spark.sql.Dataset[MediaRecord],
                                 maxW: Int, maxH: Int): DataFrame = {
    import media.sparkSession.implicits._
    media
      .mapPartitions { it =>
        // a real implementation initializes the codec/scaler HERE,
        // once per partition, then streams records through it
        it.map { r =>
          resizePixels(r.doc_id, r.payload, maxW, maxH).getOrElse {
            val m = decode(r)
            val scale = math.min(
              1.0, math.min(maxW.toDouble / m.width, maxH.toDouble / m.height))
            val ow = math.max(1, math.floor(m.width * scale).toInt)
            val oh = math.max(1, math.floor(m.height * scale).toInt)
            Resized(r.doc_id, m.width, m.height, ow, oh,
                    BigDecimal(scale)
                      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
                    ow.toLong * oh.toLong * m.channels)
          }
        }
      }
      .toDF()
  }

  private def resized(spark: SparkSession, dir: String,
                      maxW: Int, maxH: Int): DataFrame = {
    import spark.implicits._
    resizedFrom(mediaTable(spark, dir)
      .filter(col("media_type") === "image").as[MediaRecord], maxW, maxH)
  }

  def resizeImages(spark: SparkSession, dir: String,
                   maxW: Int = 256, maxH: Int = 256): DataFrame =
    resized(spark, dir, maxW, maxH).orderBy(col("doc_id"))

  /** Real perceptual-hash arm — ImageIO decode (behind f5's magic
    * sniff) → 8×8 bilinear luminance downscale → average hash (aHash,
    * the pHash family's simplest public member): bit (y·8+x) set iff
    * that cell's Rec.601 luminance exceeds the image mean. Structural
    * by construction — recompression, mild noise or resizing moves
    * few bits, so near-duplicate images land within a small hamming
    * radius. None for anything ImageIO can't read, which then falls
    * to the stub arm.
    */
  private[graft] def aHash64(bytes: Array[Byte]): Option[Long] = {
    val img =
      if (!imageMagic(bytes)) None
      else try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes)))
      catch { case scala.util.control.NonFatal(_) => None }
    img.map { im =>
      val out = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(im, 0, 0, 8, 8, null)
      g.dispose()
      val lum = Array.tabulate(64) { i =>
        val rgb = out.getRGB(i % 8, i / 8)
        0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
          0.114 * (rgb & 0xFF)
      }
      val mean = lum.sum / 64.0
      lum.indices.foldLeft(0L)((acc, i) =>
        if (lum(i) > mean) acc | (1L << i) else acc)
    }
  }

  /** The real-arm dispatch as a column: a sniff-gated JVM kernel (the
    * f-family's disclosed decode-boundary pattern — a pixel decode has
    * no Column form). On the synthetic corpus every row fails the
    * 4-byte sniff immediately and the coalesce falls through to the
    * codegen'd simhash stub; a real corpus pays exactly the decode it
    * must.
    */
  private val aHashUdf = udf((b: Array[Byte]) => aHash64(b))

  /** f6: image near-duplicate detection — 64-bit perceptual hash per
    * image, C(6,3) block-combination pigeonhole blocking (any pair
    * within hamming ≤ 3 shares a band — [[DedupOps.simhashBlocks]]),
    * bucket-capped candidate generation, exact hamming verify, and a
    * per-image verdict (min near-duplicate partner or NULL). The
    * 100 TB story: banding keeps candidate work bucket-local (no
    * all-pairs) and the ≤ 33-bit combination keys keep expected
    * bucket occupancy ~N/2³¹ — effectively zero into billions of
    * images, where this query's own history shows narrower keys
    * collapsing (the first 8-band × 8-bit cut read FASTER at data
    * ×100 than ×10 because nearly every 256-key bucket had overflowed
    * and been dropped — a fast wrong curve; the 4×16 second cut
    * measured 2.7% of buckets over-cap at 500k concentrated-signature
    * docs — round 16 retired it for the same reason, across every
    * 64-bit modality at once). Hamming ≤ 3 is also the radius an aHash near-dup
    * actually needs: the spec's noised real-PNG copy lands at
    * distance ≤ 3, and independent images sit near 32. The hash dispatches REAL-first:
    * ImageIO aHash for payloads a registered reader decodes
    * (spec-proven on constructed PNGs: a noised copy lands within the
    * radius, a structurally different image outside it), and the
    * deterministic simhash-of-payload-tokens stub for the synthetic
    * corpus — which keeps the whole query DuckDB-replayable, exactly
    * the f1/f5 seam contract.
    */
  /** (doc_id, phash) projection of a media DataFrame — the hash stage
    * shared by f6's one-shot, f7's batch/standing split and the landed
    * index build. Callers that consume it more than once checkpoint.
    */
  private[graft] def phashed(imgs: DataFrame): DataFrame =
    imgs
      .filter(col("payload").isNotNull)
      .select(col("doc_id"),
        coalesce(aHashUdf(col("payload")),
                 graft.functions.TextFns.simhash64Kernel(
                   col("payload").cast("string")))
          .as("phash"))

  /** f6/f7/f8's band-key columns over `phash`: the same Manku C(6,3)
    * block-combination layout as c3 (round 16 — was 4 contiguous
    * 16-bit bands, whose 65,536-key buckets measurably saturate past
    * ~4M docs on concentrated signatures: 2.7% of buckets over the
    * default cap at 500k Zipf text docs in the c3 occupancy run; the
    * same machinery, so the same collapse). One shared
    * [[DedupOps.simhashBandCols]] layout means one pigeonhole
    * guarantee (hamming ≤ 3) and one oracle replay across every
    * 64-bit-signature modality.
    */
  private def phashBandCols: Seq[org.apache.spark.sql.Column] =
    graft.operators.DedupOps.simhashBandCols(col("phash"))

  private def requireRadius(maxHamming: Int): Unit =
    require(maxHamming <= 3,
      s"C(6,3) block-combination blocking guarantees recall only to hamming 3, got $maxHamming")

  private[graft] def imageNearDupFrom(imgs: DataFrame, bucketCap: Int,
                                      maxHamming: Int): DataFrame = {
    // three consumers (band explode + both pair sides + the verdict
    // base) — c3's localCheckpoint rationale
    val hashed = phashed(imgs).localCheckpoint(false)
    val partners = nearDup64Partners(hashed, bucketCap, maxHamming)
    hashed.join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("phash"), col("dup_of"),
              col("dup_of").isNotNull.as("is_neardup"))
      .orderBy(col("doc_id"))
  }

  /** The one-shot 64-bit near-dup partner machinery (band/cap/verify
    * over a (doc_id, phash) frame → per-doc min near-dup partner) —
    * the f6 tail, extracted so f8's audio fingerprints run the exact
    * same blocking/verify as image phashes.
    */
  private def nearDup64Partners(hashed: DataFrame, bucketCap: Int,
                                maxHamming: Int): DataFrame = {
    import graft.functions.{CappedDistinctAgg, TextFns}
    requireRadius(maxHamming)
    val buckets = hashed
      .select(col("doc_id"), explode(array(phashBandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bkey"))
      .groupBy(col("band"), col("bkey"))
      .agg(CappedDistinctAgg.fn(bucketCap)(col("doc_id")).as("ids"))
      .filter(size(col("ids")) <= bucketCap)
    val pairs = buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
                  y => struct(x.as("a_id"), y.as("b_id")))))).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .distinct()
    val near = pairs
      .join(hashed.select(col("doc_id").as("a_id"), col("phash").as("ph_a")),
            "a_id")
      .join(hashed.select(col("doc_id").as("b_id"), col("phash").as("ph_b")),
            "b_id")
      .filter(TextFns.hamming64(col("ph_a"), col("ph_b")) <= maxHamming)
      .select(col("a_id"), col("b_id"))
    near
      .select(col("a_id").as("doc_id"), col("b_id").as("partner"))
      .union(near.select(col("b_id").as("doc_id"), col("a_id").as("partner")))
      .groupBy(col("doc_id")).agg(min(col("partner")).as("dup_of"))
  }

  def imageNearDup(spark: SparkSession, dir: String,
                   bucketCap: Int = 64, maxHamming: Int = 3): DataFrame =
    imageNearDupFrom(
      mediaTable(spark, dir).filter(col("media_type") === "image"),
      bucketCap, maxHamming)

  /** f7's batch modulus. NOT 10 like c12/p11: the synthetic `source`
    * column cycles with doc_id % 20 and modality is source-derived, so
    * a mod-10 batch split would never intersect the image sources; 7
    * is coprime with the cycle and samples every source uniformly.
    */
  val NearDupBatchMod = 7

  private def imageSlice(spark: SparkSession, dir: String,
                         newMod: Int, batch: Boolean): DataFrame =
    mediaTable(spark, dir).filter(col("media_type") === "image" &&
      (if (batch) pmod(col("doc_id"), lit(newMod)) === 0
       else pmod(col("doc_id"), lit(newMod)) =!= 0))

  /** f7's standing-catalog index parts: the bucket-capped
    * (doc_id, band, bkey) band index and the (doc_id, phash) signature
    * store over the standing images — the p11 minhash-index shape on
    * pixels. Build-time cap: an over-cap band bucket is dropped whole
    * (≥ cap docs sharing 31+ signature bits — boilerplate by
    * definition), same contract as the one-shot's.
    */
  /** The bucket-capped (doc_id, band, bkey) band index over a
    * (doc_id, phash) signature frame — shared by the image (f7) and
    * audio (f8b) standing-index builds. Build-time cap: an over-cap
    * band bucket is dropped whole (≥ cap docs sharing 31+ signature
    * bits — boilerplate by definition), same contract as the
    * one-shot's.
    */
  private def cappedBandIndex(sigs: DataFrame, bucketCap: Int): DataFrame =
    sigs
      .select(col("doc_id"), explode(array(phashBandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bkey"))
      .groupBy(col("band"), col("bkey"))
      .agg(graft.functions.CappedDistinctAgg.fn(bucketCap)(col("doc_id"))
             .as("ids"))
      .filter(size(col("ids")) <= bucketCap)
      .select(explode(col("ids")).as("doc_id"), col("band"), col("bkey"))

  private[graft] def phashIndexParts(spark: SparkSession, dir: String,
                                     bucketCap: Int = 64,
                                     newMod: Int = NearDupBatchMod)
      : (DataFrame, DataFrame) = {
    // two consumers (band index + signature store)
    val standing = phashed(imageSlice(spark, dir, newMod, batch = false))
      .localCheckpoint(false)
    (cappedBandIndex(standing, bucketCap), standing)
  }

  /** Probe + label stage shared by f7's one-shot and landed forms: the
    * batch's band keys BROADCAST into the standing band index (the
    * standing side never re-shards — the c12 probe contract), the
    * surviving candidate pairs broadcast into the signature store for
    * the exact hamming verify, and every arriving image gets a verdict
    * (min standing near-dup partner or NULL).
    */
  private def nearDupProbe(batch: DataFrame, exBands: DataFrame,
                           exSigs: DataFrame, maxHamming: Int): DataFrame = {
    requireRadius(maxHamming)
    // three consumers: band keys, hamming side, verdict base
    val b = batch.localCheckpoint(false)
    val qb = b.select(col("doc_id").as("b_id"),
        explode(array(phashBandCols: _*)).as("bk"))
      .select(col("b_id"), col("bk.band"), col("bk.bkey"))
    val cand = exBands.join(broadcast(qb), Seq("band", "bkey"))
      .select(col("b_id"), col("doc_id").as("s_id"))
      .distinct()
    val near = exSigs
      .select(col("doc_id").as("s_id"), col("phash").as("ph_s"))
      .join(broadcast(cand), "s_id")
      .join(broadcast(b.select(col("doc_id").as("b_id"),
                               col("phash").as("ph_b"))), "b_id")
      .filter(graft.functions.TextFns.hamming64(col("ph_s"), col("ph_b"))
                <= maxHamming)
      .select(col("b_id"), col("s_id"))
    val prt = near.groupBy(col("b_id")).agg(min(col("s_id")).as("dup_of"))
      .withColumnRenamed("b_id", "doc_id")
    b.join(prt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("phash"), col("dup_of"),
              col("dup_of").isNotNull.as("is_neardup"))
      .orderBy(col("doc_id"))
  }

  /** f7: incremental image near-dup — the crawler production shape
    * (c12 is the exact gate, p11 the fuzzy-text gate; this is the
    * image gate): an arriving batch of images is labeled against the
    * STANDING catalog only, never against itself — recrawled or
    * re-encoded images are caught before they enter the corpus. Same
    * hash (real aHash arm + kernel stub) and same block-combination
    * blocking as f6; only batch rows are output, each with its min
    * standing partner.
    */
  def imageNearDupIncremental(spark: SparkSession, dir: String,
                              bucketCap: Int = 64, maxHamming: Int = 3,
                              newMod: Int = NearDupBatchMod): DataFrame = {
    val (bands, sigs) = phashIndexParts(spark, dir, bucketCap, newMod)
    nearDupProbe(phashed(imageSlice(spark, dir, newMod, batch = true)),
                 bands, sigs, maxHamming)
  }

  /** f7 over the LANDED standing index (graft_phash_bands /
    * graft_phash_sigs, Warehouse.buildPhash): only the arriving batch
    * is hashed — the standing catalog's images are never re-read, and
    * the persisted tables reach the plan only through broadcast joins.
    */
  private[graft] def imageNearDupIndexed(spark: SparkSession, dir: String,
                                         maxHamming: Int = 3,
                                         newMod: Int = NearDupBatchMod)
      : DataFrame =
    phashProbeFrom(imageSlice(spark, dir, newMod, batch = true), dir,
                   maxHamming)

  /** The landed-index probe over an arbitrary (doc_id, payload) image
    * batch frame — shared by the dir-slice form above and the
    * streaming gate (CorpusStream.phashGate hands each micro-batch
    * here). Hashing is per-image, so verdicts are micro-batch-split-
    * invariant against the standing catalog.
    */
  private[graft] def phashProbeFrom(batchImgs: DataFrame, dir: String,
                                    maxHamming: Int = 3): DataFrame = {
    import graft.sources.Warehouse
    import graft.sources.Warehouse.tbl
    val spark = batchImgs.sparkSession
    // deletion layer: candidacy flows through the band index alone
    // (the sigs side only verifies pairs), so the anti-join there
    // guarantees a tombstoned catalog image never surfaces as dup_of
    nearDupProbe(phashed(batchImgs),
                 Warehouse.exceptTombstoned(
                   spark.table(tbl(dir, "graft_phash_bands")), dir, "doc_id"),
                 spark.table(tbl(dir, "graft_phash_sigs")), maxHamming)
  }

  private def audioSlice(spark: SparkSession, dir: String,
                         newMod: Int, batch: Boolean): DataFrame =
    mediaTable(spark, dir).filter(col("media_type") === "audio" &&
      (if (batch) pmod(col("doc_id"), lit(newMod)) === 0
       else pmod(col("doc_id"), lit(newMod)) =!= 0))

  /** f8b's standing-catalog index parts: the bucket-capped band index
    * and the (doc_id, phash=afp) signature store over the standing
    * ELIGIBLE audio fingerprints (docs under `minWins` windows carry
    * too few delta bits to be evidence — f8's eligibility contract —
    * so they are excluded from the index, exactly as they are excluded
    * from one-shot candidacy).
    */
  private[graft] def audioIndexParts(spark: SparkSession, dir: String,
                                     bucketCap: Int = 64,
                                     newMod: Int = NearDupBatchMod,
                                     winMs: Long = 1000L, hopMs: Long = 500L,
                                     maxWins: Int = 65, minWins: Int = 33)
      : (DataFrame, DataFrame) = {
    val standing = audioFped(audioSlice(spark, dir, newMod, batch = false),
                             winMs, hopMs, maxWins)
      .filter(col("n_windows") >= minWins)
      .select(col("doc_id"), col("afp").as("phash"))
      .localCheckpoint(false)
    (cappedBandIndex(standing, bucketCap), standing)
  }

  /** The f8b verdict stage over a fingerprinted batch frame: eligible
    * batch rows probe the standing band index + signature store
    * (nearDupProbe — the f7 broadcast-probe contract), ineligible rows
    * skip candidacy and report unmatched; every batch row gets a
    * verdict carrying its n_windows (the disclosed eligibility
    * threshold).
    */
  private def audioVerdict(fps: DataFrame, exBands: DataFrame,
                           exSigs: DataFrame, maxHamming: Int,
                           minWins: Int): DataFrame = {
    val f = fps.localCheckpoint(false)
    val eligible = f.filter(col("n_windows") >= minWins)
      .select(col("doc_id"), col("afp").as("phash"))
    val prt = nearDupProbe(eligible, exBands, exSigs, maxHamming)
      .select(col("doc_id"), col("dup_of"))
    f.join(prt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("afp"), col("n_windows"), col("dup_of"),
              col("dup_of").isNotNull.as("is_neardup"))
      .orderBy(col("doc_id"))
  }

  /** f8b: incremental audio near-dup — the crawler production shape
    * that completes the per-modality incremental family (c12 exact
    * text, p11 fuzzy text, f7 image, THIS audio): an arriving batch of
    * recordings is fingerprinted and labeled against the STANDING
    * catalog only, never against itself — a re-encoded or re-gained
    * recording is caught before it enters the corpus. Same
    * fingerprint (real PCM16 arm + stub seam) and same
    * block-combination blocking as f8; only batch rows are output,
    * each with its min standing partner.
    */
  def audioNearDupIncremental(spark: SparkSession, dir: String,
                              bucketCap: Int = 64, maxHamming: Int = 3,
                              winMs: Long = 1000L, hopMs: Long = 500L,
                              maxWins: Int = 65, minWins: Int = 33,
                              newMod: Int = NearDupBatchMod): DataFrame = {
    val (bands, sigs) = audioIndexParts(spark, dir, bucketCap, newMod,
                                        winMs, hopMs, maxWins, minWins)
    audioVerdict(audioFped(audioSlice(spark, dir, newMod, batch = true),
                           winMs, hopMs, maxWins),
                 bands, sigs, maxHamming, minWins)
  }

  /** f8b over the LANDED standing index (graft_audio_bands /
    * graft_audio_sigs, Warehouse.buildAudio): only the arriving batch
    * is fingerprinted — the standing catalog's recordings are never
    * re-read, and the persisted tables reach the plan only through
    * broadcast joins.
    */
  private[graft] def audioNearDupIndexed(spark: SparkSession, dir: String,
                                         maxHamming: Int = 3,
                                         newMod: Int = NearDupBatchMod)
      : DataFrame =
    audioProbeFrom(audioSlice(spark, dir, newMod, batch = true), dir,
                   maxHamming)

  /** The landed-index probe over an arbitrary media batch frame —
    * shared by the dir-slice form above and the streaming gate
    * (CorpusStream.audioGate hands each micro-batch here).
    * Fingerprinting is per-recording, so verdicts are
    * micro-batch-split-invariant against the standing catalog.
    */
  private[graft] def audioProbeFrom(batchMedia: DataFrame, dir: String,
                                    maxHamming: Int = 3,
                                    winMs: Long = 1000L, hopMs: Long = 500L,
                                    maxWins: Int = 65,
                                    minWins: Int = 33): DataFrame = {
    import graft.sources.Warehouse
    import graft.sources.Warehouse.tbl
    val spark = batchMedia.sparkSession
    // deletion layer: the band-index anti-join (see phashProbeFrom)
    audioVerdict(audioFped(batchMedia, winMs, hopMs, maxWins),
                 Warehouse.exceptTombstoned(
                   spark.table(tbl(dir, "graft_audio_bands")), dir, "doc_id"),
                 spark.table(tbl(dir, "graft_audio_sigs")), maxHamming, minWins)
  }

  /** f3: decoded metadata joined BACK to the document table — the
    * post-decode join every multimodal pipeline runs (pair pixels with
    * captions/labels), aggregated per (lang, media_type). Both sides
    * shuffle on doc_id (at warehouse scale the documents side is
    * bucket-landed, making this join exchange-free); the decode output
    * is an ordinary DataFrame, so Catalyst plans the join like any
    * other — the mapPartitions boundary does not leak downstream.
    */
  def mediaByLang(spark: SparkSession, dir: String): DataFrame = {
    val meta = multimodalMeta(spark, dir)
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
              col("duration_ms"))
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(meta, "doc_id")
      .groupBy(col("lang"), col("media_type"))
      .agg(count(lit(1)).as("n_media"),
           sum(col("n_bytes")).as("total_bytes"),
           round(avg(col("n_bytes")), 4).as("avg_bytes"),
           sum(col("duration_ms")).as("total_duration_ms"))
      .orderBy(col("lang"), col("media_type"))
  }

  /** f1: decode → typed metadata. mapPartitions keeps the decode
    * batched per partition; everything before/after stays a declarative
    * plan (scan prunes to the 3 needed columns; the result is a normal
    * DataFrame downstream ops can filter/join/aggregate).
    */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .as[MediaRecord]
      .mapPartitions(_.map(decode))
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Per-stage plans for the bench decode-cost split: for each f-query,
    * "scan" = the (modality-pruned) source scan feeding the decode
    * boundary, "decode" = through mapPartitions but before the
    * downstream agg/join/sort. The full query is timed by the main
    * bench loop, so (decode − scan) ≈ decoder cost and (full − decode)
    * ≈ the declarative tail — the split a real codec swap moves, and
    * the before/after evidence that a swapped-in libjpeg/ffmpeg (not
    * the Spark plumbing) is what changed.
    */
  def benchStages(spark: SparkSession, dir: String)
      : Seq[(String, String, () => DataFrame)] = {
    import spark.implicits._
    def media() = mediaTable(spark, dir)
    def decoded() = media().as[MediaRecord].mapPartitions(_.map(decode)).toDF()
    Seq(
      ("f1_multimodal_meta", "scan",   () => media()),
      ("f1_multimodal_meta", "decode", () => decoded()),
      ("f2_frame_sample",    "scan",   () => media()),
      ("f2_frame_sample",    "decode", () => media().as[MediaRecord]
        .mapPartitions(_.flatMap(sampleFramesStub(_, 16))).toDF()),
      ("f3_media_by_lang",   "scan",   () => media()),
      ("f3_media_by_lang",   "decode", () => decoded()),
      ("f4_audio_windows",   "scan",   () => media()
        .filter(col("media_type") === "audio")),
      ("f4_audio_windows",   "decode", () => media()
        .filter(col("media_type") === "audio").as[MediaRecord]
        .mapPartitions(_.flatMap(audioWindowsStub(_, 1000L, 500L, 32))).toDF()),
      ("f5_resize_images",   "scan",   () => media()
        .filter(col("media_type") === "image")),
      ("f5_resize_images",   "decode", () => resized(spark, dir, 256, 256)))
  }
}
