package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines: image/audio/
  * video payloads ride as opaque `binary` columns with typed metadata;
  * decode / feature-extraction / resize / frame-sampling run as
  * batch-shaped per-partition transforms (the Scala analog of
  * `mapInPandas` batches).
  *
  * The Spark-side plumbing — schemas, batch iteration, partition
  * preservation (no shuffle), output typing — is real and tested.
  * Metadata decode is a real container-header parse for the public
  * PNG / BMP / GIF / WAV formats ([[HeaderCodec]] — pure JVM, no
  * libraries); payloads with no recognized magic fall back to a
  * DOCUMENTED deterministic pseudo-decode derived from the bytes
  * ([[Codec.syntheticMeta]]) so text-backed plumbing fixtures still
  * produce stable, oracle-checkable metadata. Pixel/sample-level
  * decoding of compressed streams (JPEG entropy decode, video codecs)
  * needs native libraries this container doesn't ship — swap
  * [[Codec]] for a JNI/javacv implementation at deployment; every
  * signature stays the same.
  */
object Multimodal {

  /** One media row: payload + declared modality. */
  final case class MediaRow(media_id: Long, media_type: String, payload: Array[Byte])

  final case class MediaMeta(media_id: Long, media_type: String, width: Int,
      height: Int, n_channels: Int, n_frames: Int, duration_ms: Long, size_bytes: Long)

  final case class MediaFeatures(media_id: Long, features: Array[Float])

  /** Pure-JVM container-header parser for the public image/audio
    * formats whose metadata lives in a fixed-layout header: PNG (IHDR
    * chunk), BMP (BITMAPINFOHEADER), GIF (logical screen descriptor),
    * WAV (RIFF fmt/data chunks). Byte-level parsing against the
    * published format specs — no imaging libraries, so it runs in any
    * executor JVM. Returns None for unrecognized payloads; magic
    * checks are strict enough that arbitrary text can't false-match
    * (the 2-byte "BM" magic is additionally validated by the DIB
    * header-size field, whose legal values no 4 ASCII bytes decode to).
    */
  object HeaderCodec {
    final case class Parsed(width: Int, height: Int, nChannels: Int,
        nFrames: Int, durationMs: Long)

    private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
    private def be32(b: Array[Byte], i: Int): Long =
      (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
    private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
    private def le32(b: Array[Byte], i: Int): Long =
      u8(b, i).toLong | (u8(b, i + 1).toLong << 8) | (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
    private def ascii(b: Array[Byte], i: Int, s: String): Boolean =
      b.length >= i + s.length && s.indices.forall(k => b(i + k) == s.charAt(k).toByte)

    /** PNG: 8-byte signature, then the IHDR chunk (must be first per
      * spec): width/height big-endian u32 at 16/20, bit depth at 24,
      * color type at 25 → channel count.
      */
    private def png(b: Array[Byte]): Option[Parsed] = {
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
      if (b.length < 26 || !b.startsWith(sig) || !ascii(b, 12, "IHDR")) return None
      val w = be32(b, 16); val h = be32(b, 20)
      if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) return None
      val channels = u8(b, 25) match {
        case 0 => 1 // greyscale
        case 2 => 3 // truecolor
        case 3 => 1 // palette index
        case 4 => 2 // grey + alpha
        case 6 => 4 // truecolor + alpha
        case _ => return None
      }
      Some(Parsed(w.toInt, h.toInt, channels, 1, 0L))
    }

    /** BMP: "BM" + BITMAPINFOHEADER (or a later even-larger DIB
      * header). The 2-byte magic alone would false-match text, so the
      * DIB header size at offset 14 must be one of the published
      * values — four ASCII bytes little-endian decode to ≥ 0x20202020,
      * never in that set.
      */
    private def bmp(b: Array[Byte]): Option[Parsed] = {
      if (b.length < 30 || !ascii(b, 0, "BM")) return None
      val dib = le32(b, 14)
      if (!Set(40L, 52L, 56L, 108L, 124L).contains(dib)) return None
      val w = le32(b, 18).toInt
      // negative height = top-down rows; abs over a LONG because
      // math.abs(Int.MinValue) stays negative (0x80000000 would
      // otherwise slip past the h == 0 check as negative metadata)
      val h = math.abs(le32(b, 22).toInt.toLong)
      val bits = le16(b, 28)
      if (w <= 0 || h == 0 || h > Int.MaxValue || bits == 0) return None
      Some(Parsed(w, h.toInt, math.max(1, bits / 8), 1, 0L))
    }

    /** GIF: "GIF87a"/"GIF89a" + logical screen descriptor (u16 LE
      * width/height at 6/8). Frame count would need a full block walk;
      * reported as 1 (the screen), like `identify`'s fast path.
      */
    private def gif(b: Array[Byte]): Option[Parsed] = {
      if (b.length < 10 || !(ascii(b, 0, "GIF87a") || ascii(b, 0, "GIF89a"))) return None
      val w = le16(b, 6); val h = le16(b, 8)
      if (w == 0 || h == 0) return None
      Some(Parsed(w, h, 3, 1, 0L))
    }

    /** WAV: RIFF container tagged WAVE; walk chunks for "fmt "
      * (channels u16 at +2, byte rate u32 at +8 inside the chunk) and
      * "data" (payload size → duration = size · 1000 / byteRate).
      */
    private def wav(b: Array[Byte]): Option[Parsed] = {
      if (b.length < 44 || !ascii(b, 0, "RIFF") || !ascii(b, 8, "WAVE")) return None
      var off = 12
      var channels = 0; var byteRate = 0L; var dataBytes = -1L
      while (off + 8 <= b.length && (channels == 0 || dataBytes < 0)) {
        val size = le32(b, off + 4)
        // a corrupt size of 0 (no forward progress) or beyond the payload
        // (incl. > Int.MaxValue, whose toInt wraps NEGATIVE and would
        // cycle `off` forever) ends the walk; the trailing data chunk's
        // size may legitimately exceed a truncated buffer, so it still
        // counts for the duration before the walk stops
        if (ascii(b, off, "fmt ") && off + 20 <= b.length) {
          channels = le16(b, off + 10)
          byteRate = le32(b, off + 16)
        } else if (ascii(b, off, "data")) {
          dataBytes = size
        }
        if (size <= 0 || size > b.length.toLong) {
          off = b.length // terminate; fields parsed so far stand
        } else {
          off += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
        }
      }
      if (channels <= 0 || byteRate <= 0) return None
      val dur = if (dataBytes >= 0) dataBytes * 1000L / byteRate else 0L
      Some(Parsed(0, 0, channels, 1, dur))
    }

    private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

    /** JPEG: SOI (FFD8) then a marker-segment walk to the first frame
      * header SOF0–SOF15 (0xC0–0xCF minus DHT 0xC4 / JPG 0xC8 / DAC
      * 0xCC), whose payload is [precision u8][height u16][width u16]
      * [components u8] — the published JIF/JFIF layout. The walk stops
      * at SOS (entropy-coded data follows, no more fixed-layout
      * segments), EOI, a zero-progress length, or a truncated buffer.
      */
    private def jpeg(b: Array[Byte]): Option[Parsed] = {
      if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
      var i = 2
      while (i + 4 <= b.length) {
        if (u8(b, i) != 0xff) return None // marker desync: not a JPEG stream
        var j = i + 1
        while (j < b.length && u8(b, j) == 0xff) j += 1 // fill bytes
        if (j >= b.length) return None
        val marker = u8(b, j)
        if (marker == 0xd9 || marker == 0xda) return None // EOI / SOS before any SOF
        if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
          i = j + 1 // standalone marker, no length field
        } else {
          if (j + 3 > b.length) return None
          val len = be16(b, j + 1)
          if (len < 2) return None // corrupt length: no forward progress
          val isSof = marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc
          if (isSof) {
            if (j + 9 > b.length || len < 8) return None
            val h = be16(b, j + 4); val w = be16(b, j + 6)
            val channels = u8(b, j + 8)
            if (w == 0 || h == 0 || channels == 0) return None
            return Some(Parsed(w, h, channels, 1, 0L))
          }
          i = j + 1 + len
        }
      }
      None
    }

    /** FLAC: "fLaC" magic, then metadata blocks whose FIRST must be
      * STREAMINFO (type 0, length 34 — mandated by the published spec).
      * The packed 8 bytes at offset 18 carry sample rate (20 bits),
      * channels-1 (3 bits), bits-per-sample-1 (5 bits) and total
      * samples (36 bits) → exact duration.
      */
    private def flac(b: Array[Byte]): Option[Parsed] = {
      if (b.length < 42 || !ascii(b, 0, "fLaC")) return None
      val blockType = u8(b, 4) & 0x7f
      val blockLen = (u8(b, 5) << 16) | (u8(b, 6) << 8) | u8(b, 7)
      if (blockType != 0 || blockLen != 34) return None
      val sampleRate = (u8(b, 18) << 12) | (u8(b, 19) << 4) | (u8(b, 20) >> 4)
      val channels = ((u8(b, 20) >> 1) & 0x7) + 1
      val totalSamples = ((u8(b, 21) & 0x0f).toLong << 32) |
        (u8(b, 22).toLong << 24) | (u8(b, 23).toLong << 16) |
        (u8(b, 24).toLong << 8) | u8(b, 25).toLong
      if (sampleRate <= 0) return None
      Some(Parsed(0, 0, channels, 1, totalSamples * 1000L / sampleRate))
    }

    /** MP3 (ID3v2-tagged): "ID3" magic + syncsafe tag size, then the
      * first MPEG audio frame header — version/layer/bitrate/sample-rate
      * indices per the published MPEG-1/2 audio spec. Duration is the
      * CBR estimate (payload bytes × 8 / bitrate). Bare sync-only
      * streams without an ID3 tag intentionally DON'T match: a 2-byte
      * 0xFF-sync "magic" would false-match arbitrary binary payloads,
      * and the documented fallback for those is the deterministic
      * pseudo-decode.
      */
    private def mp3(b: Array[Byte]): Option[Parsed] = {
      if (b.length < 14 || !ascii(b, 0, "ID3")) return None
      if ((u8(b, 6) | u8(b, 7) | u8(b, 8) | u8(b, 9)) >= 0x80) return None // syncsafe
      val tagSize = (u8(b, 6) << 21) | (u8(b, 7) << 14) | (u8(b, 8) << 7) | u8(b, 9)
      // ID3v2 flags byte (r12 ADVICE): the published spec counts an
      // extended header INSIDE the syncsafe tag size (no offset
      // adjustment), but the v2.4 footer (flag 0x10) is 10 bytes AFTER
      // the tag and outside that size — files carrying it previously
      // missed the frame sync and fell to the pseudo-decode fallback.
      val footer = if ((u8(b, 5) & 0x10) != 0) 10 else 0
      val off = 10 + tagSize + footer
      if (off < 0 || off + 4 > b.length) return None
      if (u8(b, off) != 0xff || (u8(b, off + 1) & 0xe0) != 0xe0) return None
      val versionBits = (u8(b, off + 1) >> 3) & 0x3 // 0=2.5, 2=MPEG2, 3=MPEG1
      val layerBits = (u8(b, off + 1) >> 1) & 0x3   // 1=III, 2=II, 3=I
      if (versionBits == 1 || layerBits != 1) return None // reserved / not Layer III
      val brIdx = (u8(b, off + 2) >> 4) & 0xf
      val srIdx = (u8(b, off + 2) >> 2) & 0x3
      if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None // free/bad/reserved
      val kbps =
        if (versionBits == 3)
          Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)(brIdx)
        else Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)(brIdx)
      val channels = if (((u8(b, off + 3) >> 6) & 0x3) == 3) 1 else 2
      val payload = (b.length - off).toLong
      Some(Parsed(0, 0, channels, 1, payload * 8L / kbps)) // ms: kbps = bits/ms
    }

    /** TIFF: "II*\0" (little-endian) or "MM\0*" (big-endian) + a walk of
      * the FIRST image file directory for ImageWidth (tag 256),
      * ImageLength (257) and SamplesPerPixel (277, default 1) — inline
      * SHORT/LONG single-count values only, per the published TIFF 6.0
      * layout (the value field is left-justified, so a SHORT reads from
      * the entry's first two value bytes in either byte order).
      */
    private def tiff(b: Array[Byte]): Option[Parsed] = {
      if (b.length < 10) return None
      val le = ascii(b, 0, "II") && u8(b, 2) == 0x2a && u8(b, 3) == 0
      val be = ascii(b, 0, "MM") && u8(b, 2) == 0 && u8(b, 3) == 0x2a
      if (!le && !be) return None
      def u16e(i: Int): Int = if (le) le16(b, i) else be16(b, i)
      def u32e(i: Int): Long = if (le) le32(b, i) else be32(b, i)
      val ifd = u32e(4)
      if (ifd < 8 || ifd > Int.MaxValue || ifd + 2 > b.length) return None
      val n = u16e(ifd.toInt)
      var w = -1L; var h = -1L; var spp = 1L
      var k = 0
      while (k < n) {
        val e = ifd.toInt + 2 + 12 * k
        if (e + 12 > b.length) return None // truncated directory
        val tag = u16e(e); val typ = u16e(e + 2); val cnt = u32e(e + 4)
        if (cnt == 1 && (typ == 3 || typ == 4)) {
          val v = if (typ == 3) u16e(e + 8).toLong else u32e(e + 8)
          tag match {
            case 256 => w = v
            case 257 => h = v
            case 277 => spp = v
            case _ =>
          }
        }
        k += 1
      }
      if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue ||
        spp <= 0 || spp > 16) None
      else Some(Parsed(w.toInt, h.toInt, spp.toInt, 1, 0L))
    }

    /** WebP: RIFF container tagged WEBP, first chunk one of the three
      * published bitstream forms — "VP8 " (lossy: 3-byte frame tag,
      * 9D 01 2A start code, 14-bit LE dimensions), "VP8L" (lossless:
      * 0x2F signature then 14+14-bit width-1/height-1 packed LE, alpha
      * flag at bit 28) or "VP8X" (extended: flags byte — alpha 0x10 —
      * then 24-bit LE canvas width-1/height-1).
      */
    private def webp(b: Array[Byte]): Option[Parsed] = {
      if (b.length < 25 || !ascii(b, 0, "RIFF") || !ascii(b, 8, "WEBP")) return None
      if (ascii(b, 12, "VP8 ")) {
        if (b.length < 30 ||
          u8(b, 23) != 0x9d || u8(b, 24) != 0x01 || u8(b, 25) != 0x2a) return None
        val w = le16(b, 26) & 0x3fff; val h = le16(b, 28) & 0x3fff
        if (w == 0 || h == 0) return None
        Some(Parsed(w, h, 3, 1, 0L))
      } else if (ascii(b, 12, "VP8L")) {
        if (u8(b, 20) != 0x2f) return None
        val bits = le32(b, 21)
        val w = (bits & 0x3fff).toInt + 1
        val h = ((bits >> 14) & 0x3fff).toInt + 1
        Some(Parsed(w, h, if (((bits >> 28) & 1L) == 1L) 4 else 3, 1, 0L))
      } else if (ascii(b, 12, "VP8X")) {
        if (b.length < 30) return None
        def u24(i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16)
        val w = u24(24) + 1; val h = u24(27) + 1
        Some(Parsed(w, h, if ((u8(b, 20) & 0x10) != 0) 4 else 3, 1, 0L))
      } else None
    }

    def decode(b: Array[Byte]): Option[Parsed] =
      png(b).orElse(jpeg(b)).orElse(bmp(b)).orElse(gif(b)).orElse(wav(b))
        .orElse(webp(b)).orElse(tiff(b)).orElse(flac(b)).orElse(mp3(b))
  }

  /** Codec: real header parse where the payload carries a recognized
    * container ([[HeaderCodec]]); otherwise a deterministic
    * pseudo-decode derived from the payload bytes, so text-backed
    * plumbing fixtures produce stable, oracle-checkable metadata.
    * Feature extraction is a content-digest projection (stable across
    * engines); swap for a learned embedding model at deployment.
    */
  object Codec {
    /** Deterministic fallback for unrecognized payloads (documented —
      * this is a fixture path, not a hidden guess at real media).
      */
    def syntheticMeta(r: MediaRow): MediaMeta = {
      val len = r.payload.length.toLong
      val first = if (r.payload.nonEmpty) r.payload(0) & 0xff else 0
      val frames = r.media_type match {
        case "video" => (len % 24 + 1).toInt
        case "audio" => 1
        case _       => 1
      }
      MediaMeta(r.media_id, r.media_type,
        width = (64 + len % 577).toInt,
        height = (64 + (len + first) % 419).toInt,
        n_channels = if (r.media_type == "audio") 1 else 3,
        n_frames = frames,
        duration_ms = if (r.media_type == "image") 0L else len % 60000L,
        size_bytes = len)
    }

    def decodeMeta(r: MediaRow): MediaMeta = HeaderCodec.decode(r.payload) match {
      case Some(p) => MediaMeta(r.media_id, r.media_type, p.width, p.height,
        p.nChannels, p.nFrames, p.durationMs, r.payload.length.toLong)
      case None => syntheticMeta(r)
    }

    /** 8-dim feature vector from a stable digest of the payload. */
    def features(r: MediaRow): MediaFeatures = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(r.payload)
      val f = (0 until 8).map { i =>
        val v = ((d(2 * i) & 0xff) << 8) | (d(2 * i + 1) & 0xff)
        v.toFloat / 65535.0f
      }.toArray
      MediaFeatures(r.media_id, f)
    }

    /** "Resize": truncate/pad payload to the target byte budget. */
    def resize(payload: Array[Byte], targetBytes: Int): Array[Byte] =
      java.util.Arrays.copyOf(payload, targetBytes)
  }

  /** Decode metadata for every media row, batch-at-a-time per partition.
    * No shuffle: partitioning of the input is preserved.
    */
  def decodeMeta(media: Dataset[MediaRow], batchSize: Int = 256): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // batch boundary: a deployment codec decodes `batch` as one unit
        batch.iterator.map(Codec.decodeMeta)
      }
    }
  }

  /** Feature extraction (e.g. embedding) per media row, batch-shaped. */
  def extractFeatures(media: Dataset[MediaRow], batchSize: Int = 256): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(batchSize).flatMap(_.iterator.map(Codec.features)))
  }

  /** Frame sampling for videos: one row per sampled frame index, stride
    * `everyNth`; non-videos pass through with frame_idx 0.
    */
  def sampleFrames(media: Dataset[MediaRow], everyNth: Int): DataFrame = {
    val meta = decodeMeta(media)
    meta.toDF().select(col("media_id"), col("media_type"), col("n_frames"),
      explode(sequence(lit(0L),
        greatest(col("n_frames") - 1, lit(0)).cast("long"), lit(everyNth.toLong)))
        .as("frame_idx"))
  }

  /** Build a media table from the documents fixture: payload = UTF-8 text
    * bytes, modality assigned deterministically by id (plumbing fixture —
    * stands in for real scraped media at 100 TB).
    */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }
}
