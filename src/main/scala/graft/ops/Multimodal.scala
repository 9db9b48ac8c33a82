package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media payloads are opaque `binary` columns with typed metadata — the
  * same model Spark's own `binaryFile` source and the mllib image schema
  * use. Decode / feature-extract run as `mapPartitions` over the typed
  * Dataset (the Scala analogue of `mapInPandas`: one iterator per
  * partition, so per-partition library init — a codec, a model session —
  * is amortized across the batch).
  *
  * Decoding is two-tier: [[Multimodal.HeaderCodec]] parses real container
  * headers (BMP, PPM/PGM, WAV) with strict magic validation — zero
  * dependencies, bounded work per row. Payloads that are not a recognized
  * container fall back to [[Multimodal.FakeCodec]], a deterministic
  * pseudo-decode that keeps the synthetic fixture path (and its oracles)
  * stable. Full pixel decode of compressed formats (JPEG/H.264/...) would
  * need codec libraries this container doesn't ship; the Spark-side
  * plumbing — schema, partitioning, batch iteration shape — is identical
  * either way.
  */
object Multimodal {

  /** A media row: opaque payload + source metadata. */
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  /** Extracted features (fixed-width, columnar-friendly). */
  final case class MediaFeatures(
      media_id: Long, kind: String, byte_len: Long,
      width: Int, height: Int, n_frames: Int, checksum: Long)

  /** Real header decode for self-describing containers — no libraries, no
    * allocation beyond a few ints, O(header) per row. Each parser validates
    * magic bytes AND structural invariants before claiming a payload (a
    * text payload can start with "BM" but cannot also carry a legal DIB
    * header size, so the synthetic fixtures never false-positive here).
    *
    * Decoded triple is (width, height, n_frames); for WAV the convention
    * is (channels, sample_rate, n_samples).
    */
  object HeaderCodec {
    def sniff(payload: Array[Byte]): Option[(Int, Int, Int)] =
      parseBmp(payload).orElse(parsePng(payload)).orElse(parsePpm(payload))
        .orElse(parseWav(payload))

    private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
    private def i16le(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
    private def i32le(b: Array[Byte], i: Int): Int =
      u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
    private def i32be(b: Array[Byte], i: Int): Int =
      (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
    private def sane(v: Int): Boolean = v >= 1 && v <= 65535

    /** Windows BMP: "BM" + a known DIB header size at offset 14. Handles
      * the legacy BITMAPCOREHEADER (16-bit dims) and the negative-height
      * top-down convention of the INFO-header family.
      */
    private[ops] def parseBmp(b: Array[Byte]): Option[(Int, Int, Int)] = {
      if (b.length < 26 || b(0) != 'B' || b(1) != 'M') return None
      val dib = i32le(b, 14)
      val dims = dib match {
        case 12 => Some((i16le(b, 18), i16le(b, 20))) // BITMAPCOREHEADER
        case 40 | 52 | 56 | 64 | 108 | 124 if b.length >= 30 =>
          Some((i32le(b, 18), math.abs(i32le(b, 22)))) // top-down = negative
        case _ => None
      }
      dims.collect { case (w, h) if sane(w) && sane(h) => (w, h, 1) }
    }

    /** PNG: the fixed 8-byte signature, then the mandatory IHDR first
      * chunk (13-byte payload, big-endian dims at offsets 16/20). The
      * signature's \x89 high bit + CRLF/LF bytes make text false-positives
      * impossible; we still verify the IHDR tag and length.
      */
    private[ops] def parsePng(b: Array[Byte]): Option[(Int, Int, Int)] = {
      if (b.length < 24) return None
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      var i = 0
      while (i < 8) { if (u8(b, i) != (sig(i) & 0xff)) return None; i += 1 }
      if (i32be(b, 8) != 13) return None // IHDR payload is always 13 bytes
      if (b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R') return None
      val (w, h) = (i32be(b, 16), i32be(b, 20))
      if (sane(w) && sane(h)) Some((w, h, 1)) else None
    }

    /** Netpbm P1-P6: ASCII "P<digit>", then whitespace-separated width and
      * height with '#'-comment lines allowed anywhere in the header.
      */
    private[ops] def parsePpm(b: Array[Byte]): Option[(Int, Int, Int)] = {
      if (b.length < 7 || b(0) != 'P' || b(1) < '1' || b(1) > '6') return None
      if (!Character.isWhitespace(b(2))) return None
      var i = 2
      def nextInt(): Option[Int] = {
        while (i < b.length && (Character.isWhitespace(b(i)) || b(i) == '#')) {
          if (b(i) == '#') { while (i < b.length && b(i) != '\n') i += 1 }
          else i += 1
        }
        val start = i
        while (i < b.length && b(i) >= '0' && b(i) <= '9') i += 1
        // >9 digits can't be a sane dimension and would overflow toInt —
        // reject instead of throwing (this codec must never fail a task;
        // non-containers fall back to FakeCodec)
        if (i == start || i - start > 9 ||
            (i < b.length && !Character.isWhitespace(b(i)))) None
        else Some(new String(b, start, i - start, "US-ASCII").toInt)
      }
      for {
        w <- nextInt(); h <- nextInt() if sane(w) && sane(h)
      } yield (w, h, 1)
    }

    /** Binary Netpbm (P5 gray / P6 RGB) pixel region: parses the full
      * header (width, height, maxval, then exactly ONE whitespace byte)
      * and returns (width, height, offsetOfFirstPixelByte). None for
      * other containers, maxval > 255 (two-byte samples), or a header
      * that doesn't cover the declared pixel count. This is the REAL
      * decode path for aHash-style pixel features: the bytes at the
      * returned offset are the image, not a stand-in.
      */
    private[ops] def ppmPixelRegion(b: Array[Byte]): Option[(Int, Int, Int)] = {
      if (b.length < 7 || b(0) != 'P' || (b(1) != '5' && b(1) != '6')) return None
      if (!Character.isWhitespace(b(2))) return None
      var i = 2
      def nextInt(): Option[Int] = {
        while (i < b.length && (Character.isWhitespace(b(i)) || b(i) == '#')) {
          if (b(i) == '#') { while (i < b.length && b(i) != '\n') i += 1 }
          else i += 1
        }
        val start = i
        while (i < b.length && b(i) >= '0' && b(i) <= '9') i += 1
        if (i == start || i - start > 9 ||
            (i < b.length && !Character.isWhitespace(b(i)))) None
        else Some(new String(b, start, i - start, "US-ASCII").toInt)
      }
      val channels = if (b(1) == '5') 1 else 3
      for {
        w <- nextInt(); h <- nextInt(); maxval <- nextInt()
        if sane(w) && sane(h) && maxval >= 1 && maxval <= 255
        // spec: exactly one whitespace byte separates maxval from pixels
        off = i + 1
        if i < b.length && Character.isWhitespace(b(i)) &&
          off + w.toLong * h * channels <= b.length
      } yield (w, h, off)
    }

    /** RIFF/WAVE: scans the chunk list for fmt + data; returns
      * (channels, sample_rate, data_bytes / block_align).
      */
    private[ops] def parseWav(b: Array[Byte]): Option[(Int, Int, Int)] = {
      if (b.length < 44) return None
      if (b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F') return None
      if (b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
      // long cursor: a garbage chunk size near Int.MaxValue would overflow
      // an int cursor to negative and crash the bounds checks — this codec
      // must reject, never throw (non-containers fall back to FakeCodec)
      var i = 12L
      var channels, rate, blockAlign, dataLen = -1
      while (i + 8 <= b.length && (channels < 0 || dataLen < 0)) {
        val p = i.toInt
        val id = new String(b, p, 4, "US-ASCII")
        val size = i32le(b, p + 4)
        if (size < 0) return None
        if (id == "fmt " && i + 24 <= b.length) {
          channels = i16le(b, p + 10); rate = i32le(b, p + 12)
          blockAlign = i16le(b, p + 20)
        } else if (id == "data") {
          dataLen = math.min(size.toLong, b.length - i - 8).toInt // tolerate truncation
        }
        i += 8L + size.toLong + (size & 1) // chunks are word-aligned
      }
      if (channels >= 1 && channels <= 64 && rate >= 1 && rate <= 384000 &&
          blockAlign >= 1 && dataLen >= 0)
        Some((channels, rate, dataLen / blockAlign))
      else None
    }
  }

  /** Fallback decode for payloads that are not a recognized container:
    * deterministic pseudo-metadata from payload bytes, keeping the
    * synthetic fixture path (and its generated oracles) stable. A real
    * deployment swaps this for a codec-backed object with the same
    * signature; nothing else changes.
    */
  object FakeCodec {
    def decode(kind: String, payload: Array[Byte]): (Int, Int, Int) = {
      val h = java.util.Arrays.hashCode(payload)
      val w = 64 + math.abs(h % 1024)
      val ht = 64 + math.abs((h >> 10) % 1024)
      val frames = kind match {
        case "video" => 1 + math.abs(h % 300)
        case "audio" => 1 + math.abs(h % 16000)
        case _       => 1
      }
      (w, ht, frames)
    }
  }

  /** Dispatch: real container header if the payload is one, else the
    * deterministic fallback. Bounded per-row work either way.
    */
  def decode(kind: String, payload: Array[Byte]): (Int, Int, Int) =
    HeaderCodec.sniff(payload).getOrElse(FakeCodec.decode(kind, payload))

  /** Decode + feature-extract: one pass, per-partition codec reuse, output
    * is a fixed-schema Dataset ready for columnar write. No shuffle.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init happens here (codec handles, model sessions)
      rows.map { r =>
        val (w, h, frames) = decode(r.kind, r.payload)
        val checksum = r.payload.foldLeft(1125899906842597L)((acc, b) => 31 * acc + b)
        MediaFeatures(r.media_id, r.kind, r.payload.length.toLong, w, h, frames, checksum)
      }
    }
  }

  /** aHash input for one payload: `n` evenly stride-sampled unsigned byte
    * values (position `(i*len)/n`, the 1-indexed `1 + ((i-1)*len)//n`
    * stride q214's oracle replays). Rows typed `kind="image"` decode the
    * REAL container first — binary Netpbm pixels via
    * [[HeaderCodec.ppmPixelRegion]] — and sample the decoded pixel bytes;
    * unparseable images and every other kind sample the raw payload (the
    * text-fixture fallback). Dispatch is on the typed `kind` metadata, not
    * a sniff, so a text payload that happens to start with "P5 " can never
    * be misread as an image.
    */
  private[graft] def sampleCodesOne(kind: String, payload: Array[Byte], n: Int): Array[Long] = {
    val bytes =
      if (kind == "image")
        HeaderCodec.ppmPixelRegion(payload) match {
          case Some((w, h, off)) =>
            val channels = if (payload(1) == '5') 1 else 3
            java.util.Arrays.copyOfRange(payload, off, off + w * h * channels)
          case None => payload
        }
      else payload
    val len = bytes.length.toLong
    Array.tabulate(n)(i => (bytes(((i.toLong * len) / n).toInt) & 0xff).toLong)
  }

  /** Per-media aHash codes: decode + stride-sample in one `mapPartitions`
    * pass (same shape as [[extractFeatures]] — per-partition codec init,
    * no shuffle). Payloads must be non-empty.
    */
  final case class MediaCodes(media_id: Long, codes: Array[Long])
  def sampleCodes(media: Dataset[MediaRow], n: Int = 32): Dataset[MediaCodes] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map(r => MediaCodes(r.media_id, sampleCodesOne(r.kind, r.payload, n)))
    }
  }

  /** STUB resize: deterministic fake re-encode to a `targetW x targetH`
    * thumbnail — payload is truncated/cycled to the target byte budget
    * (3 bytes/px), so downstream sizes are what a real codec would hand
    * back. Same `mapPartitions` shape as [[extractFeatures]]: a real
    * deployment replaces the body with a codec call, nothing else moves.
    */
  def resize(media: Dataset[MediaRow], targetW: Int, targetH: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    val budget = targetW * targetH * 3
    media.mapPartitions { rows =>
      rows.map { r =>
        val out = Array.tabulate(budget)(i =>
          if (r.payload.isEmpty) 0.toByte else r.payload(i % r.payload.length))
        MediaRow(r.media_id, r.kind, out)
      }
    }
  }

  /** Build a deterministic synthetic media table from the documents table
    * (payload = utf-8 text bytes) — the fixture generator for tests and the
    * smoke path; real data arrives via `spark.read.format("binaryFile")`.
    */
  def syntheticMedia(spark: SparkSession, documents: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    documents.select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }
}
