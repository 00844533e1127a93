package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal column handling: media as opaque `binary` columns with
  * typed metadata, plus a decode/feature-extract stage.
  *
  * The Spark-side plumbing is real — binary packing, typed Dataset
  * schema, partition-batched decode — and so is the decoder for the
  * formats a pure-JVM header parse can handle: BMP and PNG (pixel
  * dimensions, channels), WAV (sample rate / channels / frame count)
  * and JPEG (SOF frame dimensions + component count) via
  * [[MediaDecoder]]. Formats needing a full codec (pixel data,
  * H.264, ...) fall back to a clearly-marked DETERMINISTIC STUB that
  * derives fake dimensions from a content hash — the container ships
  * no codecs.
  * Swapping in a full decoder (JNI codec or `mapInPandas` + Pillow on
  * a PySpark cluster) changes only the per-format branch; the schema,
  * partitioning, and batch shape are what this module pins down — and
  * the BMP/WAV branches prove that claim with real formats.
  */
object Multimodal {

  case class MediaRecord(doc_id: Long, media: Array[Byte], mime: String,
                         lang: String, n_bytes: Long)

  /** Doc ids below `limit`, spread ROUND-ROBIN across the session's
    * parallelism before the per-id codec work that follows. The
    * generator tier's whole cost is the mapPartitions decode; a
    * selective filter on the (sorted) doc_id column leaves every
    * surviving row in the one or two scan tasks that hold the low ids,
    * serializing the decode on one core no matter how wide the session
    * is (measured: multimodal_dedup_video_mjpeg ran its ~12k-frame
    * JPEG decode as ONE 1.8 s task — twice, once per side of the band
    * self-join). The explicit partition count pins the shuffle as
    * REPARTITION_BY_NUM, which AQE never coalesces away; it tracks
    * defaultParallelism, so the spread is scale-adaptive, not a
    * local[32] constant. The shuffled bytes are 8 per id — noise. */
  private def mediaIds(spark: SparkSession, dir: String, limit: Long): Dataset[Long] = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") < limit)
      .repartition(spark.sparkContext.defaultParallelism)
      .as[Long]
  }

  /** Banded Hamming pairs over a PERSISTED signature frame. Every
    * media sig generator feeds both sides of
    * [[Documents.simhashPairs]]' band self-join, and an unpersisted
    * frame is recomputed once per side — the full container+codec
    * decode ran twice per query. Same doctrine (and the same
    * releasable [[graft.Caches]] registry) as the text tier's
    * [[Documents.simhashPortableSigs]], whose comment carries the
    * measured justification; the cached rows are 16 bytes per clip at
    * any scale. */
  private def sigPairs(sigs: DataFrame, maxHamming: Int): DataFrame =
    Documents.simhashPairs(graft.Caches.persist(sigs), maxHamming)

  case class DecodedFeatures(doc_id: Long, width: Int, height: Int,
                             n_frames: Int, content_hash: Long)

  /** Join text + embedding into a multimodal record: the text bytes
    * stand in for an image/audio payload (opaque binary + metadata —
    * the schema a lake of real media files would have). */
  def pack(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .join(Tables.load(spark, dir, "embeddings"),
        col("doc_id") === col("vec_id"))
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("media"),
        lit("text/plain").as("mime"),
        col("lang"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      .as[MediaRecord]
  }

  /** Pure-JVM media header parsers — the real-decoder end of the
    * decode seam. Little-endian field offsets per the public format
    * specs (BITMAPFILEHEADER/BITMAPINFOHEADER; RIFF/WAVE chunks). */
  object MediaDecoder {
    private def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    private def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def tag(b: Array[Byte], o: Int): String =
      new String(b, o, 4, "US-ASCII")

    /** (width, height, 1) from a BMP's info header; height may be
      * negative in the file (top-down rows). */
    def decodeBmp(b: Array[Byte]): Option[(Int, Int, Int)] =
      if (b.length >= 26 && b(0) == 'B' && b(1) == 'M')
        Some((le32(b, 18), math.abs(le32(b, 22)), 1))
      else None

    /** (sampleRate, channels, sampleFrames) from a PCM WAV's fmt/data
      * chunks, walking the RIFF chunk list. The chunk size comes from
      * untrusted media bytes, so the walk is defensive: a negative size
      * is rejected outright, the next offset is computed in Long (a
      * size near Int.MaxValue must not wrap into a negative offset),
      * and the loop breaks unless the offset strictly advances and
      * stays within the buffer — a hostile sz of -8/-9 would otherwise
      * advance by 0 and spin the executor task forever. */
    def decodeWav(b: Array[Byte]): Option[(Int, Int, Int)] = {
      if (b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE") return None
      var off = 12
      var rate = -1; var channels = -1; var blockAlign = -1; var dataLen = -1
      var ok = true
      while (ok && off + 8 <= b.length) {
        val id = tag(b, off)
        val sz = le32(b, off + 4)
        if (sz < 0) ok = false // corrupt: RIFF sizes are unsigned but we cap at 2 GiB
        else {
          if (id == "fmt " && off + 8 + 16 <= b.length) {
            channels = le16(b, off + 10)
            rate = le32(b, off + 12)
            blockAlign = le16(b, off + 20)
          } else if (id == "data") dataLen = sz
          val next = off.toLong + 8L + sz.toLong + (sz & 1) // chunks are word-aligned
          if (next <= off || next > b.length.toLong) ok = false
          else off = next.toInt
        }
      }
      if (rate > 0 && channels > 0 && blockAlign > 0 && dataLen >= 0)
        Some((rate, channels, dataLen / blockAlign))
      else None
    }

    private def be32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

    private val pngSig =
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    /** (width, height, channels) from a PNG's IHDR — always the first
      * chunk after the 8-byte signature, so no chunk walk is needed:
      * width/height are big-endian at offsets 16/20, color type at 25
      * (0 gray, 2 RGB, 3 palette, 4 gray+alpha, 6 RGBA). Negative
      * dimensions (high bit set — invalid per spec) are rejected. */
    def decodePng(b: Array[Byte]): Option[(Int, Int, Int)] = {
      if (b.length < 26 || !pngSig.indices.forall(i => b(i) == pngSig(i)) ||
          tag(b, 12) != "IHDR") return None
      val w = be32(b, 16); val h = be32(b, 20)
      val channels = b(25) match {
        case 0 | 3 => 1
        case 4     => 2
        case 2     => 3
        case 6     => 4
        case _     => -1
      }
      if (w > 0 && h > 0 && channels > 0) Some((w, h, channels)) else None
    }

    private def be16(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

    /** (width, height, components) from a JPEG's SOF segment — the
      * marker walk every JPEG dimension probe does: SOI, then
      * length-prefixed segments until a start-of-frame marker
      * (SOF0–SOF3, SOF5–SOF7, SOF9–SOF11, SOF13–SOF15 — baseline
      * through differential lossless) carrying precision, height,
      * width, component count. Same hostile-input posture as the RIFF
      * walk: segment lengths come from untrusted bytes, so the offset
      * advances in Long, must strictly increase, and must stay in
      * bounds — a crafted length of 0 or 0xFFFF must end the walk,
      * never spin or overrun. */
    def decodeJpeg(b: Array[Byte]): Option[(Int, Int, Int)] = {
      if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
      var off = 2L
      while (off + 4 <= b.length) {
        if ((b(off.toInt) & 0xff) != 0xff) return None // marker misalignment
        val marker = b(off.toInt + 1) & 0xff
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc // DHT/JPG/DAC aren't frames
        val len = be16(b, off.toInt + 2)
        if (isSof) {
          if (off + 2 + 2 + 6 > b.length || len < 8) return None
          val h = be16(b, off.toInt + 5)
          val w = be16(b, off.toInt + 7)
          val comp = b(off.toInt + 9) & 0xff
          return if (w > 0 && h > 0 && comp > 0) Some((w, h, comp)) else None
        }
        val next = off + 2L + len
        if (len < 2 || next <= off || next > b.length.toLong) return None
        off = next
      }
      None
    }
  }

  /** Deterministic minimal-but-valid media files per the public format
    * specs — the generator side of the decode seam, so the REAL
    * [[MediaDecoder]] branches get a driver-visible registered query
    * ([[multimodalDecodeReal]]): the text corpus packs as `text/plain`,
    * which only ever exercises the hash-stub branch. */
  object MediaEncoder {
    import java.nio.{ByteBuffer, ByteOrder}

    /** 24-bit BMP: BITMAPFILEHEADER + BITMAPINFOHEADER + zeroed,
      * 4-byte-aligned pixel rows. */
    def bmp(w: Int, h: Int): Array[Byte] = {
      val rowSize = ((w * 3 + 3) / 4) * 4
      val size = 54 + rowSize * h
      val b = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      b.array()
    }

    /** PNG signature + IHDR (width/height big-endian, bit depth 8,
      * `colorType` ∈ {0 gray, 2 RGB, 6 RGBA}). Header-only — the IDAT
      * stream needs zlib, and the decoder reads only IHDR. */
    def png(w: Int, h: Int, colorType: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(33) // big-endian by default
      b.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      b.putInt(13).put("IHDR".getBytes("US-ASCII"))
      b.putInt(w).putInt(h).put(8.toByte).put(colorType.toByte)
      b.array()
    }

    /** 16-bit PCM WAV: RIFF/WAVE with fmt + data chunks, zeroed
      * samples. */
    def wav(rate: Int, channels: Int, nFrames: Int): Array[Byte] = {
      val block = channels * 2
      val dataLen = nFrames * block
      val b = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen).put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(channels.toShort)
      b.putInt(rate).putInt(rate * block).putShort(block.toShort).putShort(16)
      b.put("data".getBytes("US-ASCII")).putInt(dataLen)
      b.array()
    }

    /** Minimal JFIF: SOI + APP0 (JFIF 1.1 stub) + SOF0 with the real
      * dimensions and component count. Header-only like [[png]] — the
      * entropy-coded scan needs a codec, and the decoder reads only
      * the frame header. */
    def jpeg(w: Int, h: Int, components: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(2 + 18 + 10 + 3 * components)
      b.putShort(0xffd8.toShort) // SOI
      b.putShort(0xffe0.toShort).putShort(16) // APP0, len 16
      b.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
      b.putShort(0x0101.toShort).put(0.toByte) // version 1.1, aspect units
      b.putShort(1.toShort).putShort(1.toShort).put(0.toByte).put(0.toByte)
      b.putShort(0xffc0.toShort).putShort((8 + 3 * components).toShort) // SOF0
      b.put(8.toByte).putShort(h.toShort).putShort(w.toShort)
      b.put(components.toByte)
      (1 to components).foreach(i =>
        b.put(i.toByte).put(0x11.toByte).put(0.toByte))
      b.array()
    }

    /** The closed-form (doc_id → blob, mime) mapping behind
      * [[syntheticMedia]] — format cycles by doc_id mod 4, dimensions
      * derive arithmetically from doc_id, so the decoded features are
      * an exact function of the id (spec-asserted, DuckDB-oracle-
      * replayed). */
    def forId(id: Long): (Array[Byte], String) = (id % 4) match {
      case 0 => (bmp(8 + (id % 32).toInt, 8 + ((id / 32) % 32).toInt), "image/bmp")
      case 1 => (png(16 + (id % 64).toInt, 16 + ((id / 64) % 64).toInt,
        Seq(0, 2, 6)(((id / 3) % 3).toInt)), "image/png")
      case 2 => (wav(8000 + (id % 8).toInt * 1000, 1 + (id % 2).toInt,
        1 + (id % 50).toInt), "audio/wav")
      case _ => (jpeg(12 + (id % 48).toInt, 12 + ((id / 48) % 48).toInt,
        if ((id / 4) % 2 == 0) 1 else 3), "image/jpeg")
    }
  }

  /** Synthetic media lake: one deterministic BMP/PNG/WAV blob per
    * source document below `limit` — the stand-in for real crawled
    * media that lets the full pack → decode pipeline run the REAL
    * format parsers end to end. Generated executor-side (typed map —
    * this tier is the `mapInPandas` seam, where per-row codec work
    * lives), partition-invariant and reproducible. */
  def syntheticMedia(spark: SparkSession, dir: String, limit: Long = 500L): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .filter(col("doc_id") < limit)
      // same spread as [[mediaIds]]: the per-id encode below is the
      // whole cost, and the selective filter's survivors sit in one
      // scan task
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .map { case (id, lang) =>
        val (blob, mime) = MediaEncoder.forId(id)
        MediaRecord(id, blob, mime, lang, blob.length.toLong)
      }
  }

  /** Partition-batched decode. `mapPartitions` mirrors the batch shape
    * of `mapInPandas`: the decoder amortizes codec init across a whole
    * partition instead of paying it per row. BMP, PNG, WAV and JPEG
    * decode for real ([[MediaDecoder]]); other formats fall back to
    * the deterministic md5-derived STUB (no codecs in the container) —
    * `content_hash` is the first 60 bits of md5(media) and the fake
    * dims derive from it, so when the payload is text bytes the DuckDB
    * oracle replays the whole row via the same
    * `('0x' || substr(md5(text), 1, 15))::BIGINT` recipe the dedup
    * family uses. For WAV, `width` is the sample rate, `height` the
    * channel count, `n_frames` the sample frames; for JPEG, `n_frames`
    * is the component count. */
  def decodeStub(records: Dataset[MediaRecord]): Dataset[DecodedFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      // real codecs would init once per partition here; the digest is
      // the per-partition "codec" instance
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        md.reset()
        val digest = md.digest(r.media)
        // first 15 hex chars = top 60 bits, always non-negative
        val h = java.lang.Long.parseLong(
          digest.take(8).map("%02x".format(_)).mkString.take(15), 16)
        val decoded = r.mime match {
          case "image/bmp"  => MediaDecoder.decodeBmp(r.media)
          case "image/png"  => MediaDecoder.decodePng(r.media)
          case "audio/wav"  => MediaDecoder.decodeWav(r.media)
          case "image/jpeg" => MediaDecoder.decodeJpeg(r.media)
          case _            => None
        }
        val (w, ht, frames) = decoded.getOrElse((
          64 + (h % 512).toInt,
          64 + ((h >> 9) % 512).toInt,
          1))
        DecodedFeatures(r.doc_id, w, ht, frames, h)
      }
    }
  }

  /** REAL pixel-level BMP transforms — the resize stage of the media
    * pipeline, pure JVM (24-bit uncompressed BMP needs no codec). The
    * generator writes a deterministic per-id gradient so every
    * transformed pixel has a CLOSED FORM in (doc_id, x, y): the
    * registered thumbnail query's pixel sums are replayed by the
    * DuckDB oracle arithmetically, which means any byte-plumbing bug —
    * the 4-byte row padding, the bottom-up row order, the BGR channel
    * layout — breaks the hash compare. */
  object MediaTransform {
    import java.nio.{ByteBuffer, ByteOrder}

    /** 24-bit BMP whose pixel at image coordinates (x, y measured from
      * the TOP) is B=(7x+13y+id)%256, G=(3x+5y)%256, R=(x+y)%256 —
      * asymmetric in y so a row-order mistake can't cancel out. */
    def bmpGradient(w: Int, h: Int, id: Long): Array[Byte] = {
      val rowSize = ((w * 3 + 3) / 4) * 4
      val b = ByteBuffer.allocate(54 + rowSize * h).order(ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(54 + rowSize * h).putInt(0).putInt(54)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      b.position(54)
      var fileRow = 0
      while (fileRow < h) { // BMP stores rows bottom-up
        val y = h - 1 - fileRow
        val base = 54 + fileRow * rowSize
        var x = 0
        while (x < w) {
          b.put(base + x * 3, ((7 * x + 13 * y + id) % 256).toByte)
          b.put(base + x * 3 + 1, ((3 * x + 5 * y) % 256).toByte)
          b.put(base + x * 3 + 2, ((x + y) % 256).toByte)
          x += 1
        }
        fileRow += 1
      }
      b.array()
    }

    /** Parse a 24-bit BMP into top-down unpadded BGR triples. Media
      * bytes are untrusted: dims must be sane and the buffer must
      * actually HOLD the pixel rows the header promises (a truncated
      * file passes the header-only [[MediaDecoder.decodeBmp]] check
      * but must reject here, not throw). */
    def bmpPixels(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] =
      MediaDecoder.decodeBmp(bytes).flatMap { case (w, h, _) =>
        val rowSize = ((w.toLong * 3 + 3) / 4) * 4
        if (w <= 0 || h <= 0 || w > 65536 || h > 65536 ||
            54L + rowSize * h > bytes.length) None
        else {
          val px = new Array[Byte](w * h * 3)
          var y = 0
          while (y < h) {
            val fileRow = h - 1 - y
            System.arraycopy(bytes, 54 + fileRow * rowSize.toInt, px, y * w * 3, w * 3)
            y += 1
          }
          Some((w, h, px))
        }
      }

    /** Nearest-neighbor resample of top-down BGR triples:
      * src(x,y) = (⌊x·w/ow⌋, ⌊y·h/oh⌋) — the same index math the
      * oracle replays. */
    def resizeNearest(px: Array[Byte], w: Int, h: Int,
                      ow: Int, oh: Int): Array[Byte] = {
      val out = new Array[Byte](ow * oh * 3)
      var y = 0
      while (y < oh) {
        val sy = y * h / oh
        var x = 0
        while (x < ow) {
          val sx = x * w / ow
          System.arraycopy(px, (sy * w + sx) * 3, out, (y * ow + x) * 3, 3)
          x += 1
        }
        y += 1
      }
      out
    }

    /** Re-encode top-down BGR triples as a 24-bit BMP (bottom-up,
      * padded — the inverse of [[bmpPixels]]). */
    def encodeBmp(px: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val rowSize = ((w * 3 + 3) / 4) * 4
      val b = ByteBuffer.allocate(54 + rowSize * h).order(ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(54 + rowSize * h).putInt(0).putInt(54)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      var y = 0
      while (y < h) {
        val fileRow = h - 1 - y
        System.arraycopy(px, y * w * 3, b.array(), 54 + fileRow * rowSize, w * 3)
        y += 1
      }
      b.array()
    }

    /** Full PNG PIXEL decode — pure JVM (`java.util.zip.Inflater` +
      * per-scanline defilter), closing the format gap that made
      * perceptual dedup BMP-only: PNG is one of the two formats real
      * crawls are actually made of, and a header-level parse cannot
      * feed [[Multimodal.dHash64]]. Coverage: the COMPLETE legal PNG
      * matrix — color types 0 (gray, depths 1/2/4/8/16), 2 (RGB,
      * 8/16), 3 (palette, 1/2/4/8 + PLTE), 4 (gray+alpha, 8/16) and
      * 6 (RGBA, 8/16), non-interlaced AND Adam7-interlaced (seven
      * passes, each defiltered independently per the spec). 16-bit
      * samples take the high byte; sub-8 gray scales by 255/(2^d−1)
      * (exact, since 1/3/15 divide 255); alpha is dropped; palette
      * indexes must stay inside PLTE. All five filter types
      * (None/Sub/Up/Average/Paeth) are reconstructed per the spec.
      * Output is top-down unpadded BGR triples — the same convention
      * as [[bmpPixels]], so the dHash path is byte-identical
      * downstream of the decode (gray expands to B=G=R).
      *
      * Untrusted-media posture (the [[MediaDecoder.decodeWav]]
      * contract): chunk lengths advance in Long and must strictly
      * increase within bounds; dimensions are capped; the inflated
      * stream must be EXACTLY the per-pass filtered size; any zlib
      * error, bad filter byte, or out-of-range palette index returns
      * None, never throws. Chunk CRCs are not verified (a
      * corrupt-but-inflatable stream decodes to garbage pixels, which
      * dedup treats as just another image — the lenient posture most
      * production decoders take). */
    def pngPixels(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
      if (bytes.length < 33 || !sig.indices.forall(i => bytes(i) == sig(i))) return None
      def be32(o: Int): Int =
        ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
          ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)
      if (new String(bytes, 12, 4, "US-ASCII") != "IHDR") return None
      val w = be32(16); val h = be32(20)
      val bitDepth = bytes(24) & 0xff
      val colorType = bytes(25) & 0xff
      val interlace = bytes(28) & 0xff
      val channels = colorType match {
        case 0 => 1
        case 2 => 3
        case 3 => 1
        case 4 => 2
        case 6 => 4
        case _ => return None
      }
      val depthOk = colorType match {
        case 0 => Set(1, 2, 4, 8, 16)(bitDepth)
        case 3 => Set(1, 2, 4, 8)(bitDepth)
        case _ => bitDepth == 8 || bitDepth == 16
      }
      if (!depthOk || interlace > 1 || bytes(26) != 0 || bytes(27) != 0)
        return None
      if (w <= 0 || h <= 0 || w > 65536 || h > 65536 ||
          w.toLong * h * channels * 2 > (1L << 30)) return None
      // chunk walk: PLTE + concatenate the IDAT stream (may span chunks)
      val idat = new java.io.ByteArrayOutputStream()
      var plte: Array[Byte] = null
      var off = 8L
      var sawEnd = false
      while (!sawEnd && off + 8 <= bytes.length) {
        val len = be32(off.toInt)
        if (len < 0) return None
        val ctype = new String(bytes, off.toInt + 4, 4, "US-ASCII")
        val next = off + 12L + len
        if (next <= off || next > bytes.length.toLong) return None
        if (ctype == "IDAT") idat.write(bytes, off.toInt + 8, len)
        if (ctype == "PLTE") {
          if (len % 3 != 0 || len > 768 || len == 0) return None
          plte = java.util.Arrays.copyOfRange(bytes, off.toInt + 8, off.toInt + 8 + len)
        }
        if (ctype == "IEND") sawEnd = true
        off = next
      }
      if (colorType == 3 && plte == null) return None
      // pass geometry: one full pass when non-interlaced, Adam7 else
      val passes: Array[(Int, Int, Int, Int)] = // (x0, y0, dx, dy)
        if (interlace == 0) Array((0, 0, 1, 1))
        else Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
      val bitsPP = channels * bitDepth
      def pwOf(p: (Int, Int, Int, Int)) = if (w > p._1) (w - p._1 + p._3 - 1) / p._3 else 0
      def phOf(p: (Int, Int, Int, Int)) = if (h > p._2) (h - p._2 + p._4 - 1) / p._4 else 0
      def strideOf(pw: Int): Int = (pw * bitsPP + 7) / 8
      val expected = passes.map { p =>
        val pw = pwOf(p); val ph = phOf(p)
        if (pw == 0 || ph == 0) 0L else ph.toLong * (strideOf(pw) + 1)
      }.sum
      if (expected <= 0 || expected > (1L << 30)) return None
      val raw = new Array[Byte](expected.toInt)
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(idat.toByteArray)
        var total = 0
        while (total < raw.length && !inf.finished()) {
          val n = inf.inflate(raw, total, raw.length - total)
          if (n == 0 && inf.needsInput()) return None // truncated stream
          total += n
        }
        if (total != raw.length) return None
      } catch { case _: java.util.zip.DataFormatException => return None }
      finally inf.end()
      val bpp = math.max(1, bitsPP / 8)
      val px = new Array[Byte](w * h * 3)
      var rawOff = 0
      var pi = 0
      while (pi < passes.length) {
        val p = passes(pi)
        val pw = pwOf(p); val ph = phOf(p)
        if (pw > 0 && ph > 0) {
          val stride = strideOf(pw)
          // defilter this pass in place, predictors over RECONSTRUCTED
          // bytes (cur and prior line OF THE SAME PASS), per the spec
          val recon = new Array[Byte](ph * stride)
          var y = 0
          while (y < ph) {
            val f = raw(rawOff + y * (stride + 1)) & 0xff
            if (f > 4) return None
            val src = rawOff + y * (stride + 1) + 1
            val dst = y * stride
            var i = 0
            while (i < stride) {
              val a = if (i >= bpp) recon(dst + i - bpp) & 0xff else 0
              val b = if (y > 0) recon(dst - stride + i) & 0xff else 0
              val c = if (y > 0 && i >= bpp) recon(dst - stride + i - bpp) & 0xff else 0
              val pred = f match {
                case 0 => 0
                case 1 => a
                case 2 => b
                case 3 => (a + b) / 2
                case 4 =>
                  val pp = a + b - c
                  val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
                  if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
              }
              recon(dst + i) = ((raw(src + i) & 0xff) + pred).toByte
              i += 1
            }
            y += 1
          }
          rawOff += ph * (stride + 1)
          // scatter this pass's pixels into the full-image BGR grid
          def sampleAt(row: Int, idx: Int): Int = bitDepth match {
            case 16 => recon(row * stride + idx * 2) & 0xff // high byte
            case 8  => recon(row * stride + idx) & 0xff
            case d =>
              val bitPos = idx * d
              val b = recon(row * stride + (bitPos >> 3)) & 0xff
              (b >> (8 - d - (bitPos & 7))) & ((1 << d) - 1)
          }
          val maxV = (1 << math.min(bitDepth, 8)) - 1
          var yy = 0
          while (yy < ph) {
            var xx = 0
            while (xx < pw) {
              val o = ((p._2 + yy * p._4) * w + (p._1 + xx * p._3)) * 3
              colorType match {
                case 0 =>
                  val v0 = sampleAt(yy, xx)
                  val g = (if (bitDepth >= 8) v0 else v0 * 255 / maxV).toByte
                  px(o) = g; px(o + 1) = g; px(o + 2) = g
                case 2 =>
                  px(o) = sampleAt(yy, xx * 3 + 2).toByte
                  px(o + 1) = sampleAt(yy, xx * 3 + 1).toByte
                  px(o + 2) = sampleAt(yy, xx * 3).toByte
                case 3 =>
                  val i2 = sampleAt(yy, xx)
                  if (i2 * 3 + 2 >= plte.length) return None
                  px(o) = plte(i2 * 3 + 2); px(o + 1) = plte(i2 * 3 + 1); px(o + 2) = plte(i2 * 3)
                case 4 =>
                  val g = sampleAt(yy, xx * 2).toByte
                  px(o) = g; px(o + 1) = g; px(o + 2) = g
                case 6 =>
                  px(o) = sampleAt(yy, xx * 4 + 2).toByte
                  px(o + 1) = sampleAt(yy, xx * 4 + 1).toByte
                  px(o + 2) = sampleAt(yy, xx * 4).toByte
              }
              xx += 1
            }
            yy += 1
          }
        }
        pi += 1
      }
      Some((w, h, px))
    }

    /** Encode top-down BGR triples as a REAL compressed PNG (zlib
      * `Deflater` IDAT) across the full legal matrix the decoder
      * covers: gray (depths 1/2/4/8/16 — sub-8 requires exactly-
      * representable grays, the fixture contract), RGB (8/16), PALETTE
      * (first-seen color order, PLTE, depths 1/2/4/8), gray+alpha and
      * RGBA (opaque alpha), non-interlaced or ADAM7. 16-bit samples
      * write v·257 (both bytes v) so the high-byte decode recovers v
      * exactly — every variant is a LOSSLESS re-encode, which is what
      * the planted-clone Hamming-0 identities ride. The filter type
      * CYCLES y mod 5 within each pass, so a single encode →
      * [[pngPixels]] round trip exercises every defilter branch — a
      * predictor bug anywhere breaks the round-trip spec AND the
      * oracle identity, not just one fixture. (Gray takes the B
      * channel — the decode convention.) */
    def encodePng(px: Array[Byte], w: Int, h: Int, colorType: Int = 2,
                  bitDepth: Int = 8, interlace: Boolean = false): Array[Byte] = {
      val channels = colorType match {
        case 0 => 1
        case 2 => 3
        case 3 => 1
        case 4 => 2
        case 6 => 4
        case _ => throw new IllegalArgumentException(s"colorType $colorType")
      }
      val depthOk = colorType match {
        case 0 => Set(1, 2, 4, 8, 16)(bitDepth)
        case 3 => Set(1, 2, 4, 8)(bitDepth)
        case _ => bitDepth == 8 || bitDepth == 16
      }
      require(depthOk, s"depth $bitDepth unsupported for color type $colorType")
      val palIdx = if (colorType == 3) {
        val m = scala.collection.mutable.LinkedHashMap.empty[(Byte, Byte, Byte), Int]
        var j = 0
        while (j < w * h) {
          val k = (px(j * 3), px(j * 3 + 1), px(j * 3 + 2))
          if (!m.contains(k)) m(k) = m.size
          j += 1
        }
        require(m.size <= (1 << bitDepth),
          s"${m.size} distinct colors exceed palette depth $bitDepth")
        m
      } else null
      val maxV = (1 << math.min(bitDepth, 8)) - 1
      def samplesOf(x: Int, y: Int): Array[Int] = {
        val o = (y * w + x) * 3
        colorType match {
          case 0 =>
            val g = px(o) & 0xff
            if (bitDepth == 16) Array(g) // 16-bit writes (g, g) = g·257
            else if (bitDepth == 8) Array(g)
            else {
              require(g * maxV % 255 == 0, s"gray $g not exact at depth $bitDepth")
              Array(g * maxV / 255)
            }
          case 2 => Array(px(o + 2) & 0xff, px(o + 1) & 0xff, px(o) & 0xff)
          case 3 => Array(palIdx((px(o), px(o + 1), px(o + 2))))
          case 4 => Array(px(o) & 0xff, 0xff)
          case 6 => Array(px(o + 2) & 0xff, px(o + 1) & 0xff, px(o) & 0xff, 0xff)
        }
      }
      val bitsPP = channels * bitDepth
      val bpp = math.max(1, bitsPP / 8)
      val passes: Array[(Int, Int, Int, Int)] =
        if (!interlace) Array((0, 0, 1, 1))
        else Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
      val rawOut = new java.io.ByteArrayOutputStream()
      passes.foreach { p =>
        val pw = if (w > p._1) (w - p._1 + p._3 - 1) / p._3 else 0
        val ph = if (h > p._2) (h - p._2 + p._4 - 1) / p._4 else 0
        if (pw > 0 && ph > 0) {
          val stride = (pw * bitsPP + 7) / 8
          val prev = new Array[Byte](stride)
          var yy = 0
          while (yy < ph) {
            val line = new Array[Byte](stride)
            var bitPos = 0
            var xx = 0
            while (xx < pw) {
              val s = samplesOf(p._1 + xx * p._3, p._2 + yy * p._4)
              var c = 0
              while (c < s.length) {
                if (bitDepth == 16) {
                  line(bitPos >> 3) = s(c).toByte
                  line((bitPos >> 3) + 1) = s(c).toByte // v·257: both bytes v
                  bitPos += 16
                } else if (bitDepth == 8) {
                  line(bitPos >> 3) = s(c).toByte
                  bitPos += 8
                } else {
                  val shift = 8 - bitDepth - (bitPos & 7)
                  line(bitPos >> 3) = (line(bitPos >> 3) | (s(c) << shift)).toByte
                  bitPos += bitDepth
                }
                c += 1
              }
              xx += 1
            }
            val f = yy % 5
            rawOut.write(f)
            var i = 0
            while (i < stride) {
              val a = if (i >= bpp) line(i - bpp) & 0xff else 0
              val b = if (yy > 0) prev(i) & 0xff else 0
              val c2 = if (yy > 0 && i >= bpp) prev(i - bpp) & 0xff else 0
              val pred = f match {
                case 0 => 0
                case 1 => a
                case 2 => b
                case 3 => (a + b) / 2
                case 4 =>
                  val pp = a + b - c2
                  val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c2)
                  if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c2
              }
              rawOut.write(((line(i) & 0xff) - pred) & 0xff)
              i += 1
            }
            System.arraycopy(line, 0, prev, 0, stride)
            yy += 1
          }
        }
      }
      val deflater = new java.util.zip.Deflater()
      val idat = try {
        deflater.setInput(rawOut.toByteArray); deflater.finish()
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
        out.toByteArray
      } finally deflater.end()
      def chunk(ctype: String, data: Array[Byte]): Array[Byte] = {
        val b = java.nio.ByteBuffer.allocate(12 + data.length)
        b.putInt(data.length).put(ctype.getBytes("US-ASCII")).put(data)
        val crc = new java.util.zip.CRC32()
        crc.update(b.array(), 4, 4 + data.length)
        b.putInt(crc.getValue.toInt)
        b.array()
      }
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(w).putInt(h).put(bitDepth.toByte).put(colorType.toByte)
        .put(0.toByte).put(0.toByte).put(if (interlace) 1.toByte else 0.toByte).array()
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      out.write(chunk("IHDR", ihdr))
      if (colorType == 3) {
        val pal = new Array[Byte](palIdx.size * 3)
        palIdx.foreach { case ((b, g, r), i) =>
          pal(i * 3) = r; pal(i * 3 + 1) = g; pal(i * 3 + 2) = b
        }
        out.write(chunk("PLTE", pal))
      }
      out.write(chunk("IDAT", idat))
      out.write(chunk("IEND", Array.emptyByteArray))
      out.toByteArray
    }

    /** Container-SNIFFING pixel decode: BMP, PNG, JPEG (baseline or
      * progressive), or GIF by magic bytes — what an ingest that
      * receives "an image" calls, so a PNG re-encode of a BMP (or a
      * lossless re-encode of a decoded JPEG, or a GIF save of a
      * palette image) deduplicates across containers. None ⇔ no magic
      * matches or the body fails its format's decode (e.g. arithmetic-
      * coded JPEG, which [[JpegCodec.decode]] rejects rather than
      * mis-decodes). */
    def pixelsOf(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] =
      if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') bmpPixels(bytes)
      else if (bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P')
        pngPixels(bytes)
      else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
               (bytes(1) & 0xff) == 0xd8)
        JpegCodec.decode(bytes)
      else if (bytes.length >= 4 && bytes(0) == 'G' && bytes(1) == 'I' &&
               bytes(2) == 'F' && bytes(3) == '8')
        GifCodec.decode(bytes)
      else if (bytes.length >= 12 && bytes(0) == 'R' && bytes(1) == 'I' &&
               bytes(2) == 'F' && bytes(3) == 'F' && bytes(8) == 'W' &&
               bytes(9) == 'E' && bytes(10) == 'B' && bytes(11) == 'P')
        // lossless VP8L first (true color); lossy VP8 falls back to
        // the key-frame LUMA decode expanded to gray BGR — every
        // consumer of this sniff hashes via a grayscale reduction, and
        // gray(y,y,y) = y for any channel weighting, so the dedup
        // signatures are exact even though color is not reconstructed
        WebpCodec.decode(bytes).orElse(
          Vp8Codec.decodeLuma(bytes).map { case (w, h, y) =>
            val px = new Array[Byte](w * h * 3)
            var i = 0
            while (i < y.length) {
              px(i * 3) = y(i); px(i * 3 + 1) = y(i); px(i * 3 + 2) = y(i)
              i += 1
            }
            (w, h, px)
          })
      else None

    /** splitmix64 finalizer (public-domain constants) — the avalanche
      * mix behind [[bmpTexture]]'s per-pixel content. */
    def mix64(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }

    /** 24-bit BMP with hash-textured content: channels at (x, y) are
      * bytes of mix64(id, x, y). Unlike [[bmpGradient]] (whose linear
      * ramp makes most dHash comparison patterns IDENTICAL across ids
      * — measured background min Hamming 0, useless for dedup
      * fixtures), distinct ids here get independent 64-bit dHashes, so
      * the nearest background pair among n images sits near the
      * binomial tail (measured: Hamming 14 over 500 images). */
    def bmpTexture(w: Int, h: Int, id: Long): Array[Byte] =
      encodeBmp(texturePixels(w, h, id), w, h)

    /** The hash-textured BGR pixel content behind [[bmpTexture]] and
      * [[pngTexture]] — ONE per-id pixel function across containers,
      * so the same image can be planted in either format and the
      * measured background-separation floor (min non-planted Hamming
      * 14 at 500 images) transfers to every container's signature
      * population. */
    def texturePixels(w: Int, h: Int, id: Long): Array[Byte] = {
      val px = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val m = mix64(id * 0x100000001L + y.toLong * 65536 + x)
          val o = (y * w + x) * 3
          px(o) = (m & 0xff).toByte
          px(o + 1) = ((m >>> 8) & 0xff).toByte
          px(o + 2) = ((m >>> 16) & 0xff).toByte
          x += 1
        }
        y += 1
      }
      px
    }

    /** [[bmpTexture]]'s content in a real compressed PNG container
      * (RGB or RGBA — both carry identical BGR pixels through
      * [[pngPixels]], so their dHashes equal the BMP encoding's). */
    def pngTexture(w: Int, h: Int, id: Long, colorType: Int = 2): Array[Byte] =
      encodePng(texturePixels(w, h, id), w, h, colorType)

    /** 16-bit PCM WAV with a deterministic ramp — sample at (frame f,
      * channel c) = ((31f + 17c + id) mod 65536) − 32768 — so every
      * decimated sample has a closed form in (doc_id, f, c). */
    def wavRamp(rate: Int, channels: Int, nFrames: Int, id: Long): Array[Byte] = {
      val bytes = MediaEncoder.wav(rate, channels, nFrames)
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var f = 0
      while (f < nFrames) {
        var c = 0
        while (c < channels) {
          bb.putShort(44 + (f * channels + c) * 2,
            (((31L * f + 17L * c + id) % 65536) - 32768).toShort)
          c += 1
        }
        f += 1
      }
      bytes
    }

    /** Extract the PCM int16 samples (interleaved) of a WAV whose
      * header [[MediaDecoder.decodeWav]] accepts — bounds-checked
      * against the actual buffer, since the data-chunk length is
      * untrusted. */
    def wavSamples(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Short])] =
      MediaDecoder.decodeWav(bytes).flatMap { case (rate, channels, frames) =>
        // frames·channels in Long: a crafted header (channels=65535 on a
        // small buffer) overflows Int to negative, sneaking past the
        // byte-length guard into a NegativeArraySizeException — the
        // untrusted-media contract is reject (None), never throw.
        val nL = frames.toLong * channels
        if (channels <= 0 || frames < 0 || nL > Int.MaxValue ||
            44L + nL * 2 > bytes.length) None
        else {
          val n = nL.toInt
          val bb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val out = new Array[Short](n)
          var i = 0
          while (i < n) { out(i) = bb.getShort(44 + i * 2); i += 1 }
          Some((rate, channels, frames, out))
        }
      }

    /** 16-bit PCM WAV with hash-textured samples: frame f, channel c
      * carries the low 16 bits of mix64 over (id, f, c). The
      * [[bmpTexture]] lesson applied to audio: [[wavRamp]]'s sawtooth
      * makes most frame-loudness comparisons identical across ids
      * (useless as a dedup fixture), while independent hashed samples
      * give distinct ids independent 64-bit aHashes, so the nearest
      * background pair sits near the binomial tail. */
    def wavTexture(rate: Int, channels: Int, nFrames: Int, id: Long): Array[Byte] = {
      val bytes = MediaEncoder.wav(rate, channels, nFrames)
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var f = 0
      while (f < nFrames) {
        var c = 0
        while (c < channels) {
          val m = mix64(id * 0x100000001L + f.toLong * 65536 + c)
          bb.putShort(44 + (f * channels + c) * 2, ((m & 0xffffL) - 32768L).toShort)
          c += 1
        }
        f += 1
      }
      bytes
    }

    /** Duplicate every frame `k` times (all channels) — the
      * integer-factor upsample whose re-encode is the audio analogue
      * of the 2× image rescale: a REAL resample artifact (k× the rate,
      * k× the frames, same duration) that [[Multimodal.aHash64]]
      * provably maps to the identical signature. */
    def frameDup(samples: Array[Short], channels: Int, k: Int): Array[Short] = {
      val frames = samples.length / channels
      val out = new Array[Short](frames * k * channels)
      var t = 0
      while (t < frames * k) {
        System.arraycopy(samples, (t / k) * channels, out, t * channels, channels)
        t += 1
      }
      out
    }

    /** Keep every `k`-th frame of an interleaved PCM stream — the
      * audio analogue of the image thumbnail (decimation without
      * filtering; a real pipeline low-passes first, but the Spark-side
      * plumbing — frame indexing across interleaved channels — is
      * what's exercised and oracled here). */
    def frameSample(samples: Array[Short], channels: Int, k: Int): Array[Short] = {
      val frames = samples.length / channels
      val kept = (frames + k - 1) / k
      val out = new Array[Short](kept * channels)
      var i = 0
      while (i < kept) {
        System.arraycopy(samples, i * k * channels, out, i * channels, channels)
        i += 1
      }
      out
    }
  }

  /** Registered query (HARD oracle): the audio twin of the thumbnail —
    * generate ramp WAVs → parse PCM → keep every 4th frame →
    * re-encode → re-parse and sum the surviving samples. Sums come
    * from the final re-encoded bytes; the oracle replays them from
    * the ramp's closed form over `range(0, n, 4)`. */
  def multimodalAudioSample(spark: SparkSession, dir: String,
                            limit: Long = 500L, k: Int = 4): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, limit)
      .mapPartitions { it =>
        it.map { id =>
          val rate = 8000 + (id % 8).toInt * 1000
          val channels = 1 + (id % 2).toInt
          val nFrames = 100 + (id % 100).toInt
          val full = MediaTransform.wavRamp(rate, channels, nFrames, id)
          val (r0, c0, _, samples) = MediaTransform.wavSamples(full).get
          val dec = MediaTransform.frameSample(samples, c0, k)
          val out = MediaEncoder.wav(r0 / k, c0, dec.length / c0)
          val bb = java.nio.ByteBuffer.wrap(out)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          dec.indices.foreach(i => bb.putShort(44 + i * 2, dec(i)))
          val (r1, c1, f1, reread) = MediaTransform.wavSamples(out).get
          val sum = reread.foldLeft(0L)((acc, s) => acc + s)
          (id, r1, c1, f1, sum)
        }
      }
      .toDF("doc_id", "out_rate", "channels", "n_frames_out", "sample_sum")
      .orderBy("doc_id")
  }

  /** Registered query (HARD oracle): generate gradient BMPs → decode
    * pixels → nearest-neighbor resize to 8×8 → re-encode → decode the
    * thumbnail AGAIN and sum its channel bytes. The sum is computed
    * from the final encoded thumbnail's actual bytes — the whole
    * decode/resize/encode chain is on the verified path — while the
    * oracle computes the same sum from the closed-form gradient +
    * index arithmetic. Per-row byte work runs partition-batched like
    * [[decodeStub]] (the `mapInPandas` seam). */
  def multimodalThumbnail(spark: SparkSession, dir: String,
                          limit: Long = 500L): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, limit)
      .mapPartitions { it =>
        it.map { id =>
          val w = 8 + (id % 32).toInt
          val h = 8 + ((id / 32) % 32).toInt
          val full = MediaTransform.bmpGradient(w, h, id)
          val (dw, dh, px) = MediaTransform.bmpPixels(full).get
          val thumb = MediaTransform.encodeBmp(
            MediaTransform.resizeNearest(px, dw, dh, 8, 8), 8, 8)
          val (_, _, tpx) = MediaTransform.bmpPixels(thumb).get
          val pixSum = tpx.foldLeft(0L)((acc, b) => acc + (b & 0xff))
          (id, 8, 8, pixSum, thumb.length)
        }
      }
      .toDF("doc_id", "out_w", "out_h", "pix_sum", "thumb_bytes")
      .orderBy("doc_id")
  }

  /** Registered query (oracle-checked): the multimodal join with
    * scalar projections — binary payload flows through the plan; the
    * output keeps byte-length/dim/label so DuckDB can reproduce it. */
  def multimodalPack(spark: SparkSession, dir: String): DataFrame =
    pack(spark, dir)
      .select(col("doc_id"), col("n_bytes"), col("lang"))
      .join(Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), size(col("embedding")).as("dim"), col("label")),
        col("doc_id") === col("vec_id"))
      .select("doc_id", "n_bytes", "lang", "dim", "label")
      .orderBy("doc_id")

  /** Registered query (HARD oracle since round 9): full pack → decode
    * pipeline. Text payloads all take the stub branch, whose dims and
    * `content_hash` are closed forms of md5(media) = md5(text) — so
    * DuckDB replays every column of the decode output, not just row
    * counts. */
  def multimodalDecode(spark: SparkSession, dir: String): DataFrame =
    decodeStub(pack(spark, dir)).toDF().orderBy("doc_id")

  /** 64-bit dHash (difference hash) of top-down BGR triples — the
    * standard perceptual image signature: nearest-neighbor downscale
    * to a 9×8 luminance grid, one bit per horizontally-adjacent
    * comparison. All-integer math (luminance = B+G+R, the same
    * nearest-neighbor index arithmetic as [[MediaTransform
    * .resizeNearest]]), so the hash is bit-identical across JVMs and
    * replayable arithmetically. Scale-invariance is exact for power-
    * of-two rescales (floor(floor(2a)/2) = floor(a): a 2×-upscaled
    * re-encode hits the IDENTICAL 9×8 grid) and approximate for
    * crops/noise — the usual dHash contract. */
  /** [[dHash64]] over a raw LUMA plane — same 9x8 point-sample grid
    * and comparison rule (lum = y instead of b+g+r; the comparisons
    * are identical under any positive channel weighting). The lossy
    * VP8 tier hashes this directly: its decoder reconstructs luma,
    * which is all a gradient hash reads. Mirrored bit-for-bit by
    * tools/gen_vp8_fixtures.py's dhash_luma, which freezes the oracle
    * from libwebp's own Y planes. */
  def dHash64Luma(y: Array[Byte], w: Int, h: Int): Long = {
    val lum = new Array[Int](9 * 8)
    var yy = 0
    while (yy < 8) {
      val sy = yy * h / 8
      var x = 0
      while (x < 9) {
        lum(yy * 9 + x) = y(sy * w + x * w / 9) & 0xff
        x += 1
      }
      yy += 1
    }
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (lum((i / 8) * 9 + i % 8 + 1) > lum((i / 8) * 9 + i % 8)) bits |= 1L << i
      i += 1
    }
    bits
  }

  /** Registered query (HARD oracle, differential): perceptual dedup
    * over LOSSY WebP — the format most real `.webp` bytes actually
    * use, decoded by the from-scratch VP8 key-frame decoder
    * ([[Vp8Codec]]: bool coder, segmentation, token trees, WHT+IDCT,
    * all ten B_PRED modes, normal+simple loop filters). The repo
    * cannot ENCODE VP8 (decode-only coverage), so the population is a
    * committed 30-fixture corpus produced by the reference libwebp
    * encoder (tools/gen_vp8_fixtures.py): ids 0..19 at q75 and, for
    * ids 0..9, the SAME content requantized at q55 under id+20 —
    * genuine lossy near-duplicates. The oracle's expected pairs were
    * computed from LIBWEBP's decoded Y planes, so this row passes
    * only if [[Vp8Codec]] reconstructs every fixture byte-identically
    * to the reference decoder (content designed so each planted pair
    * sits at Hamming 0 with a measured background floor of 19 —
    * asserted by Vp8Spec on the row's own population). */
  def multimodalDedupWebpLossy(spark: SparkSession, dir: String,
                               maxHamming: Int = 4): DataFrame =
    sigPairs(webpLossySigs(spark, dir), maxHamming)

  /** The (doc_id, simhash) signatures behind
    * [[multimodalDedupWebpLossy]]: doc ids < 30 map 1:1 onto the
    * committed lossy fixtures (loaded from the jar once per executor,
    * decoded per row — the decode IS the operator under test). */
  def webpLossySigs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, 30)
      .mapPartitions { it =>
        it.map { id =>
          val in = getClass.getResourceAsStream(s"/vp8fixtures/f$id.webp")
          require(in != null, s"missing fixture vp8fixtures/f$id.webp")
          val bytes = try in.readAllBytes() finally in.close()
          val (w, h, y) = Vp8Codec.decodeLuma(bytes)
            .getOrElse(sys.error(s"fixture f$id.webp must decode"))
          (id, dHash64Luma(y, w, h))
        }
      }.toDF("doc_id", "simhash")
  }

  /** Registered query (HARD oracle, differential): perceptual dedup
    * over WEBM VIDEO — VP8's native container, the lossy-web video
    * format the AVI tier doesn't cover, riding the round-15 VP8
    * key-frame decoder. [[WebmCodec]] walks the EBML framing (Segment
    * → V_VP8 TrackEntry → Cluster SimpleBlocks) and [[Vp8Codec]]
    * reconstructs each key frame's luma; the clip signature is
    * [[tHash64]] over the decoded frames — the same temporal hash as
    * the AVI rows, so the video tier's banded Hamming join machinery
    * is inherited unchanged. The repo cannot ENCODE VP8, so the
    * population is a committed 25-clip corpus muxed by
    * tools/gen_webm_fixtures.py from libwebp-encoded frames: 10 base
    * clips of 65 flat-gray frames on a ±≥36-luma random walk (the
    * tHash analogue of the webp_lossy grid trick — requant noise can
    * never flip an adjacent-sum comparison), ids 10..19 the SAME
    * frames requantized at q55, ids 20..24 a genuine 2×-fps
    * frame-duplication re-encode of clips 0..4. The oracle pairs were
    * frozen from LIBWEBP's decoded Y planes, so this row passes only
    * if the container walk yields exactly the muxed frames AND the
    * from-scratch VP8 decode is byte-identical to the reference
    * (all 20 planted pairs at Hamming 0; measured background floor
    * 23, asserted by MultimodalSpec on the row's own population). */
  def multimodalDedupWebm(spark: SparkSession, dir: String,
                          maxHamming: Int = 4): DataFrame =
    sigPairs(webmSigs(spark, dir), maxHamming)

  /** The (doc_id, simhash=tHash64) signatures behind
    * [[multimodalDedupWebm]]: doc ids < 25 map 1:1 onto the committed
    * WebM fixtures (loaded from the jar once per executor, container
    * walk + per-frame VP8 decode per row — the decode IS the operator
    * under test). */
  def webmSigs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, 25)
      .mapPartitions { it =>
        it.map { id =>
          val in = getClass.getResourceAsStream(s"/webmfixtures/c$id.webm")
          require(in != null, s"missing fixture webmfixtures/c$id.webm")
          val bytes = try in.readAllBytes() finally in.close()
          val (w, h, frames) = WebmCodec.keyFrames(bytes)
            .getOrElse(sys.error(s"fixture c$id.webm must parse"))
          val lumas = frames.map { f =>
            val (fw, fh, y) = Vp8Codec.decodeFrameLuma(f)
              .getOrElse(sys.error(s"fixture c$id.webm: frame must decode"))
            require(fw == w && fh == h, "frame dims must match the track's")
            y
          }
          (id, tHash64(lumas))
        }
      }.toDF("doc_id", "simhash")
  }

  def dHash64(px: Array[Byte], w: Int, h: Int): Long = {
    val lum = new Array[Int](9 * 8)
    var y = 0
    while (y < 8) {
      val sy = y * h / 8
      var x = 0
      while (x < 9) {
        val sx = x * w / 9
        val o = (sy * w + sx) * 3
        lum(y * 9 + x) = (px(o) & 0xff) + (px(o + 1) & 0xff) + (px(o + 2) & 0xff)
        x += 1
      }
      y += 1
    }
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (lum((i / 8) * 9 + i % 8 + 1) > lum((i / 8) * 9 + i % 8)) bits |= 1L << i
      i += 1
    }
    bits
  }

  /** Registered query (HARD oracle, planted-structure recipe):
    * PERCEPTUAL image dedup — the canonical multimodal-corpus op. Each
    * doc's gradient BMP is decoded and dHashed; for doc_id < 10 a
    * genuine near-duplicate is planted under doc_id + 10M by
    * re-encoding the SAME image at 2× resolution (a real resize +
    * re-encode through the byte codecs, not a signature copy). The 2×
    * nearest-neighbor upscale provably preserves the 9×8 dHash grid
    * (floor-of-floor identity above), so each planted pair sits at
    * Hamming 0 — closed-form rank for the oracle — while the measured
    * background separation is wide: the nearest non-planted pair among
    * the hash-textured images is Hamming 14 (measured by the
    * `tools.GateProbe` main, source at commit f4abc46; the doc_id-only
    * fixture is identical at every sf), so the ≤ 4 gate
    * cannot admit a false pair on any driver corpus.
    *
    * Pair generation is [[Documents.simhashPairs]] — the [[Lsh]]
    * bit-band self-join and Hamming gate under every near-dup path; a
    * dHash IS a 64-bit locality signature, so the image tier inherits
    * the text tier's scale path: shuffle on (band, value), pigeonhole
    * recall guarantee, never n². At 100 TB
    * the decode+hash stage is the embarrassingly-parallel map
    * ([[decodeStub]]'s partition-batched seam) and the join cost is
    * the text SimHash economics at 8 bytes/image. */
  def multimodalDedupPhash(spark: SparkSession, dir: String,
                           limit: Long = 500L, maxHamming: Int = 4): DataFrame =
    sigPairs(phashSigs(spark, dir, limit), maxHamming)

  /** The (doc_id, simhash=dHash64) signature frame behind
    * [[multimodalDedupPhash]]: generate → decode → hash, with the 2×
    * re-encoded clones planted for doc_id < 10. */
  private def phashSigs(spark: SparkSession, dir: String, limit: Long = 500L): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, limit)
      .mapPartitions { it =>
        it.flatMap { id =>
          val w = 8 + (id % 32).toInt
          val h = 8 + ((id / 32) % 32).toInt
          val (dw, dh, px) = MediaTransform.bmpPixels(
            MediaTransform.bmpTexture(w, h, id)).get
          val base = (id, dHash64(px, dw, dh))
          if (id < 10) {
            val up = MediaTransform.encodeBmp(
              MediaTransform.resizeNearest(px, dw, dh, dw * 2, dh * 2),
              dw * 2, dh * 2)
            val (uw, uh, upx) = MediaTransform.bmpPixels(up).get
            Iterator(base, (id + 10000000L, dHash64(upx, uw, uh)))
          } else Iterator(base)
        }
      }.toDF("doc_id", "simhash")
  }

  /** Registered query (HARD oracle, same planted-structure recipe as
    * [[multimodalDedupPhash]]): perceptual dedup over REAL COMPRESSED
    * PNGs — the pipeline that was format-blind until round 13. Each
    * doc's hash texture is encoded as an actual zlib-compressed PNG
    * (RGB for even ids, RGBA for odd — both decode to the same BGR
    * pixels, and the encoder cycles all five scanline filters, so
    * every defilter branch sits on the oracle-verified path); for
    * doc_id < 10 the clone is a REAL 2× nearest-neighbor upscale
    * re-encoded through the PNG codec. Decode is the container-
    * sniffing [[MediaTransform.pixelsOf]] — the exact entry point
    * [[graft.streaming.PhashIngest]] uses — and because the pixel
    * content equals the BMP tier's, the measured background floor
    * (min non-planted Hamming 14) transfers verbatim: the ≤ 4 gate
    * admits exactly the planted pairs. */
  def multimodalDedupPhashPng(spark: SparkSession, dir: String,
                              limit: Long = 500L, maxHamming: Int = 4): DataFrame =
    sigPairs(pngSigs(spark, dir, limit), maxHamming)

  /** The (doc_id, simhash=dHash64) signatures behind
    * [[multimodalDedupPhashPng]]: PNG-encode → sniff-decode → hash,
    * clones planted for doc_id < 10. */
  def pngSigs(spark: SparkSession, dir: String, limit: Long = 500L): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, limit)
      .mapPartitions { it =>
        it.flatMap { id =>
          val w = 8 + (id % 32).toInt
          val h = 8 + ((id / 32) % 32).toInt
          val colorType = if (id % 2 == 0) 2 else 6
          val (dw, dh, px) = MediaTransform.pixelsOf(
            MediaTransform.pngTexture(w, h, id, colorType)).get
          val base = (id, dHash64(px, dw, dh))
          if (id < 10) {
            val up = MediaTransform.encodePng(
              MediaTransform.resizeNearest(px, dw, dh, dw * 2, dh * 2),
              dw * 2, dh * 2, colorType)
            val (uw, uh, upx) = MediaTransform.pixelsOf(up).get
            Iterator(base, (id + 10000000L, dHash64(upx, uw, uh)))
          } else Iterator(base)
        }
      }.toDF("doc_id", "simhash")
  }

  /** Registered query (HARD oracle): perceptual dedup over REAL
    * baseline JPEGs — the last of the three formats a crawl is made
    * of. Each doc's hash texture goes through a full lossy round:
    * [[JpegCodec.encode]] (4:4:4, Annex K tables at quality 90, real
    * Huffman entropy coding) then the container-sniffing decode; the
    * signature hashes the DECODED pixels. The planted clone for
    * doc_id < 10 upscales those decoded pixels 2× and re-encodes
    * LOSSLESSLY (PNG), so the dHash floor identity applies to exactly
    * the bytes the decoder produced — quantization loss never enters
    * the identity and each planted pair sits at Hamming 0 in closed
    * form, while a JPEG→JPEG recompression stays the spec-measured
    * approximate contract. Background floor through the full lossy
    * pipe: min non-planted Hamming 13 at 300 images (measured by the
    * `tools.JpegProbe` main, source at commit f4abc46; the doc_id-only
    * fixture is identical at every sf), so the ≤ 4 gate admits exactly
    * the planted pairs. */
  def multimodalDedupPhashJpeg(spark: SparkSession, dir: String,
                               limit: Long = 500L, maxHamming: Int = 4): DataFrame =
    sigPairs(jpegSigs(spark, dir, limit), maxHamming)

  /** The (doc_id, simhash=dHash64) signatures behind
    * [[multimodalDedupPhashJpeg]]: JPEG-encode → sniff-decode → hash,
    * lossless-upscale clones planted for doc_id < 10. Every third id
    * encodes 4:2:0 (the rest 4:4:4), so the decoder's interleaved-MCU
    * subsampled path — the layout real crawls are made of — sits on
    * the oracle-verified path, not just in unit specs. */
  def jpegSigs(spark: SparkSession, dir: String, limit: Long = 500L): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, limit)
      .mapPartitions { it =>
        it.flatMap { id =>
          val w = 8 + (id % 32).toInt
          val h = 8 + ((id / 32) % 32).toInt
          val (dw, dh, px) = MediaTransform.pixelsOf(
            JpegCodec.encode(MediaTransform.texturePixels(w, h, id), w, h, 90,
              subsample = id % 3 == 0)).get
          val base = (id, dHash64(px, dw, dh))
          if (id < 10) {
            val up = MediaTransform.encodePng(
              MediaTransform.resizeNearest(px, dw, dh, dw * 2, dh * 2),
              dw * 2, dh * 2, if (id % 2 == 0) 2 else 6)
            val (uw, uh, upx) = MediaTransform.pixelsOf(up).get
            Iterator(base, (id + 10000000L, dHash64(upx, uw, uh)))
          } else Iterator(base)
        }
      }.toDF("doc_id", "simhash")
  }

  /** Registered query (HARD oracle): perceptual dedup across PNG's
    * FULL legal matrix — palette (PLTE), Adam7 interlace, 16-bit and
    * sub-8 depths — the variants web graphics are actually saved in
    * (palette dominates icons/screenshots/charts; interlace was the
    * web's default "progressive" mode for years). Every encode variant
    * here is LOSSLESS (palette lookup is exact, 16-bit writes v·257 so
    * the high byte recovers v, depth-4 grays are pre-quantized to
    * multiples of 17), so a re-encode of the same pixels in ANY other
    * variant decodes bit-identically and each planted cross-variant
    * pair sits at exactly Hamming 0 — closed form. The population
    * rotates base variants (depth-4 gray / Adam7 palette / plain
    * palette), putting palette, sub-8, and interlaced decode on the
    * oracle-verified path at every sf; clones re-encode as (Adam7)
    * 16-bit gray, covering the rest. Grayscale hash textures give the
    * same binomial-tail background as the BMP tier; the spec measures
    * the pairwise floor on this row's own population. */
  def multimodalDedupPngPalette(spark: SparkSession, dir: String,
                                limit: Long = 500L, maxHamming: Int = 4): DataFrame =
    sigPairs(pngPaletteSigs(spark, dir, limit), maxHamming)

  /** The (doc_id, simhash=dHash64) signatures behind
    * [[multimodalDedupPngPalette]]: gray textures (B channel of
    * [[MediaTransform.texturePixels]], ≤ 256 distinct values — always
    * palette-able), encoded id%5==0 → depth-4 gray (pre-quantized),
    * id%2==0 → Adam7 palette, else plain palette; cross-variant
    * clones planted for doc_id < 10. */
  def pngPaletteSigs(spark: SparkSession, dir: String, limit: Long = 500L): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, limit)
      .mapPartitions { it =>
        def hashOf(bytes: Array[Byte]): Long = {
          val (dw, dh, dpx) = MediaTransform.pixelsOf(bytes).get
          dHash64(dpx, dw, dh)
        }
        it.flatMap { id =>
          val w = 8 + (id % 32).toInt
          val h = 8 + ((id / 32) % 32).toInt
          val c = MediaTransform.texturePixels(w, h, id)
          val gray = Array.tabulate(w * h * 3) { i =>
            val b = c((i / 3) * 3) & 0xff
            (if (id % 5 == 0) 17 * (b / 17) else b).toByte // depth-4-exact grays
          }
          val baseBytes =
            if (id % 5 == 0) MediaTransform.encodePng(gray, w, h, 0, 4)
            else if (id % 2 == 0) MediaTransform.encodePng(gray, w, h, 3, 8, interlace = true)
            else MediaTransform.encodePng(gray, w, h, 3, 8)
          val base = (id, hashOf(baseBytes))
          if (id < 10) {
            val cloneBytes =
              if (id % 5 == 0) MediaTransform.encodePng(gray, w, h, 3, 8, interlace = true)
              else if (id % 2 == 0) MediaTransform.encodePng(gray, w, h, 0, 16)
              else MediaTransform.encodePng(gray, w, h, 0, 16, interlace = true)
            Iterator(base, (id + 10000000L, hashOf(cloneBytes)))
          } else Iterator(base)
        }
      }.toDF("doc_id", "simhash")
  }

  /** Registered query (HARD oracle): perceptual dedup over GIF — the
    * web's other ubiquitous palette format, decoded through a REAL
    * variable-width LZW inflate ([[GifCodec]]). The planted clone for
    * doc_id < 10 is the 2× nearest-neighbor upscale re-encoded through
    * the SAME codec (GIF is lossless for palette images, so the dHash
    * floor identity ⌊⌊2a⌋/2⌋=⌊a⌋ pins each pair at exactly Hamming 0 —
    * closed form); interlaced encodes for half the population put the
    * 4-pass deinterlace on the oracle path, and cross-container
    * sniffing means a GIF save of an indexed PNG would pair the same
    * way. Grayscale hash textures give the BMP tier's binomial-tail
    * background; the spec measures the pairwise floor on this row's
    * own population. */
  def multimodalDedupGif(spark: SparkSession, dir: String,
                         limit: Long = 500L, maxHamming: Int = 4): DataFrame =
    sigPairs(gifSigs(spark, dir, limit), maxHamming)

  /** The (doc_id, simhash=dHash64) signatures behind
    * [[multimodalDedupGif]]: gray textures GIF-encoded (interlaced for
    * even ids) → LZW decode → hash, 2× lossless-upscale clones planted
    * for doc_id < 10 (clone interlace flipped, so both directions of
    * the 4-pass path sit on the oracle). */
  def gifSigs(spark: SparkSession, dir: String, limit: Long = 500L): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, limit)
      .mapPartitions { it =>
        def hashOf(bytes: Array[Byte]): Long = {
          val (dw, dh, dpx) = MediaTransform.pixelsOf(bytes).get
          dHash64(dpx, dw, dh)
        }
        it.flatMap { id =>
          val w = 8 + (id % 32).toInt
          val h = 8 + ((id / 32) % 32).toInt
          val c = MediaTransform.texturePixels(w, h, id)
          val gray = Array.tabulate(w * h * 3)(i => c((i / 3) * 3))
          val base = (id, hashOf(GifCodec.encode(gray, w, h, interlace = id % 2 == 0)))
          if (id < 10) {
            val up = GifCodec.encode(
              MediaTransform.resizeNearest(gray, w, h, w * 2, h * 2),
              w * 2, h * 2, interlace = id % 2 != 0)
            Iterator(base, (id + 10000000L, hashOf(up)))
          } else Iterator(base)
        }
      }.toDF("doc_id", "simhash")
  }

  /** Registered query (HARD oracle): perceptual dedup over WebP —
    * the web's #2 image format, decoded through a REAL VP8L bitstream
    * walk ([[WebpCodec]]: canonical prefix codes, transforms, the
    * plane-coded LZ77 neighborhood). VP8L is lossless, so the planted
    * clone for doc_id < 10 (the 2× nearest-neighbor upscale
    * re-encoded through the same codec) sits at exactly Hamming 0 by
    * the dHash floor identity ⌊⌊2a⌋/2⌋=⌊a⌋ — closed form. Half the
    * population encodes through the SUBTRACT_GREEN transform so the
    * transform-inverse path is oracle-verified at every sf, and
    * cross-container sniffing means a WebP save of the same pixels in
    * any other lossless container pairs identically.
    * Spec-compliance against reference-libwebp bitstreams (predictor
    * tiles, palettes, color cache, meta groups) is pinned separately
    * by WebpSpec's golden corpus. */
  def multimodalDedupWebp(spark: SparkSession, dir: String,
                          limit: Long = 500L, maxHamming: Int = 4): DataFrame =
    sigPairs(webpSigs(spark, dir, limit), maxHamming)

  /** The (doc_id, simhash=dHash64) signatures behind
    * [[multimodalDedupWebp]]: hash textures VP8L-encoded
    * (SUBTRACT_GREEN for even ids), 2× lossless-upscale clones planted
    * for doc_id < 10 (clone transform flipped, so both the plain and
    * subtract-green decode paths sit on the oracle). */
  def webpSigs(spark: SparkSession, dir: String, limit: Long = 500L): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, limit)
      .mapPartitions { it =>
        def hashOf(bytes: Array[Byte]): Long = {
          val (dw, dh, dpx) = MediaTransform.pixelsOf(bytes).get
          dHash64(dpx, dw, dh)
        }
        it.flatMap { id =>
          val w = 8 + (id % 32).toInt
          val h = 8 + ((id / 32) % 32).toInt
          val px = MediaTransform.texturePixels(w, h, id)
          val base = (id, hashOf(WebpCodec.encode(px, w, h, subtractGreen = id % 2 == 0)))
          if (id < 10) {
            val up = WebpCodec.encode(
              MediaTransform.resizeNearest(px, w, h, w * 2, h * 2),
              w * 2, h * 2, subtractGreen = id % 2 != 0)
            Iterator(base, (id + 10000000L, hashOf(up)))
          } else Iterator(base)
        }
      }.toDF("doc_id", "simhash")
  }

  /** Registered query (HARD oracle): perceptual dedup across the
    * PROGRESSIVE/BASELINE JPEG boundary — the same photo saved
    * interlaced vs sequential is the same photo, and a byte-level or
    * even container-level dedup cannot see it. Both encoders quantize
    * identical coefficients and successive approximation is lossless
    * once Al reaches 0, so the two files decode BIT-IDENTICALLY and
    * each planted cross-format pair sits at exactly Hamming 0 — closed
    * form, quantization never enters the identity (it cancels, rather
    * than being bypassed as in the lossless-upscale rows). Even ids
    * put the SOF2 decode path (spectral selection, EOB runs,
    * correction bits) on the oracle-verified path for half the corpus
    * at every sf; the texture content equals the jpeg tier's, so the
    * measured background floor (min non-planted Hamming 13, the
    * `tools.JpegProbe` main at commit f4abc46) keeps false pairs out of
    * the ≤ 4 gate. */
  def multimodalDedupJpegProgressive(spark: SparkSession, dir: String,
                                     limit: Long = 500L, maxHamming: Int = 4): DataFrame =
    sigPairs(jpegProgSigs(spark, dir, limit), maxHamming)

  /** The (doc_id, simhash=dHash64) signatures behind
    * [[multimodalDedupJpegProgressive]]: even ids encode progressive,
    * odd ids baseline; for doc_id < 10 the clone under doc_id + 10M is
    * the SAME pixels saved in the OTHER frame type (both directions of
    * the cross-format identity), every third id 4:2:0. */
  def jpegProgSigs(spark: SparkSession, dir: String, limit: Long = 500L): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, limit)
      .mapPartitions { it =>
        def hashOf(bytes: Array[Byte]): Long = {
          val (dw, dh, dpx) = MediaTransform.pixelsOf(bytes).get
          dHash64(dpx, dw, dh)
        }
        it.flatMap { id =>
          val w = 8 + (id % 32).toInt
          val h = 8 + ((id / 32) % 32).toInt
          val px = MediaTransform.texturePixels(w, h, id)
          val sub = id % 3 == 0
          val base = (id, hashOf(
            if (id % 2 == 0) JpegCodec.encodeProgressive(px, w, h, 90, sub)
            else JpegCodec.encode(px, w, h, 90, sub)))
          if (id < 10) {
            val other = hashOf(
              if (id % 2 == 0) JpegCodec.encode(px, w, h, 90, sub)
              else JpegCodec.encodeProgressive(px, w, h, 90, sub))
            Iterator(base, (id + 10000000L, other))
          } else Iterator(base)
        }
      }.toDF("doc_id", "simhash")
  }

  /** In-place iterative radix-2 FFT (Cooley–Tukey, bit-reversal
    * permutation) — the real DSP primitive behind
    * [[multimodalAudioFeatures]]. `re`/`im` length must be a power of
    * two. Plain textbook double math; the consumers read INTEGER
    * arg-max bins whose margins dwarf any twiddle-ulp wobble, so the
    * registered outputs are hash-stable across JVMs. */
  private[graft] def fft(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    require(n > 0 && (n & (n - 1)) == 0, s"fft: length $n not a power of two")
    // bit-reversal permutation
    var j = 0
    var i = 1
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wr = math.cos(ang); val wi = math.sin(ang)
      var blk = 0
      while (blk < n) {
        var cr = 1.0; var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val ur = re(blk + k); val ui = im(blk + k)
          val vr = re(blk + k + len / 2) * cr - im(blk + k + len / 2) * ci
          val vi = re(blk + k + len / 2) * ci + im(blk + k + len / 2) * cr
          re(blk + k) = ur + vr; im(blk + k) = ui + vi
          re(blk + k + len / 2) = ur - vr; im(blk + k + len / 2) = ui - vi
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr; cr = ncr
          k += 1
        }
        blk += len
      }
      len <<= 1
    }
  }

  /** Two-tone test fixture behind [[multimodalAudioFeatures]]: 16-bit
    * mono PCM whose samples are A1·sin(2π·k1·t/N) + A2·sin(2π·k2·t/N)
    * — both frequencies BIN-CENTERED for the N-point analysis window,
    * so the spectrum has exactly two lines (zero leakage) and the
    * top-2 bins are closed forms of (k1, k2). */
  private[graft] def wavTwoTone(nFrames: Int, n: Int, k1: Int, k2: Int): Array[Byte] = {
    val out = MediaEncoder.wav(11025, 1, nFrames)
    val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var t = 0
    while (t < nFrames) {
      val s = 9000.0 * StrictMath.sin(2.0 * math.Pi * k1 * t / n) +
        4000.0 * StrictMath.sin(2.0 * math.Pi * k2 * t / n)
      bb.putShort(44 + t * 2, math.round(s).toShort)
      t += 1
    }
    out
  }

  /** Registered query (HARD oracle): AUDIO SPECTRAL FEATURES — the
    * feature-extraction stage an audio-embedding pipeline runs before
    * any model sees a clip (dominant and secondary tone bins over an
    * FFT analysis window; Shazam-class fingerprints and MFCC chains
    * start exactly here). Each doc's two-tone WAV goes through the
    * REAL byte codec and a REAL radix-2 FFT; the reported features are
    * integer arg-max bins over |X[k]| for k in 1..N/2. The fixture's
    * tones are bin-centered (zero spectral leakage), so the oracle
    * states both bins in closed form — peak = 3 + doc_id % 100,
    * second = 110 + doc_id % 17, disjoint ranges — while 16-bit
    * quantization noise sits ~5 orders of magnitude under the line
    * amplitudes; a bit-reversal, twiddle, or butterfly bug scrambles
    * the arg-max and breaks the hash on every row. Pure map — the
    * same embarrassingly-parallel shape as every per-doc media stage. */
  def multimodalAudioFeatures(spark: SparkSession, dir: String,
                              limit: Long = 500L, n: Int = 256): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, limit)
      .mapPartitions { it =>
        it.map { id =>
          val k1 = 3 + (id % 100).toInt
          val k2 = 110 + (id % 17).toInt
          val clip = wavTwoTone(n + (id % 64).toInt, n, k1, k2)
          val (_, channels, _, samples) = MediaTransform.wavSamples(clip).get
          val re = new Array[Double](n); val im = new Array[Double](n)
          var t = 0
          while (t < n) { re(t) = samples(t * channels).toDouble; t += 1 }
          fft(re, im)
          def mag2(k: Int) = re(k) * re(k) + im(k) * im(k)
          var best = 1; var second = 2
          var k = 2
          while (k <= n / 2) {
            if (mag2(k) > mag2(best)) { second = best; best = k }
            else if (k != best && mag2(k) > mag2(second)) second = k
            k += 1
          }
          (id, best, second)
        }
      }.toDF("doc_id", "peak_bin", "second_bin")
      .orderBy("doc_id")
  }

  /** 64-bit aHash (frame-loudness delta hash) — the audio analogue of
    * [[dHash64]]: nearest-neighbor decimate the interleaved PCM stream
    * to 65 representative frames (frame j at index ⌊j·frames/65⌋ — the
    * SAME index arithmetic as the 9×8 image grid), reduce each to its
    * all-integer loudness (the channel sum, the analogue of B+G+R
    * luminance), one bit per adjacent comparison. Bit-identical across
    * JVMs and replayable arithmetically. Invariance is EXACT for
    * integer-factor frame-duplication resamples — with frames' = k·n,
    * the picked source frame is ⌊⌊j·k·n/65⌋/k⌋ = ⌊j·n/65⌋, the same
    * floor-of-floor identity as the 2× image rescale — and approximate
    * for filtered resamples/noise, the usual perceptual-hash contract
    * (a production pipeline low-passes first; see
    * [[MediaTransform.frameSample]]'s same note). */
  def aHash64(samples: Array[Short], channels: Int): Long = {
    val frames = samples.length / channels
    // a 0-frame clip has no loudness sequence to hash — callers treat
    // it as undecodable (sigOf returns None); throwing here keeps the
    // contract loud for direct misuse instead of an index error
    require(frames > 0, "aHash64: empty PCM stream (0 frames)")
    val v = new Array[Long](65)
    var j = 0
    while (j < 65) {
      val f = (j.toLong * frames / 65).toInt
      var c = 0
      var s = 0L
      while (c < channels) { s += samples(f * channels + c); c += 1 }
      v(j) = s
      j += 1
    }
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (v(i + 1) > v(i)) bits |= 1L << i
      i += 1
    }
    bits
  }

  /** Registered query (HARD oracle, planted-structure recipe):
    * PERCEPTUAL audio dedup — near-duplicate audio (re-encoded or
    * integer-resampled) that byte-level dedup cannot see. Each doc's
    * hash-textured WAV is decoded and aHashed; for doc_id < 10 a
    * genuine near-duplicate is planted under doc_id + 10M by frame-
    * duplicating the SAME audio at 2× rate and re-encoding through the
    * byte codec (a real resample artifact, not a signature copy). The
    * floor-of-floor identity above puts each planted pair at Hamming 0
    * — closed-form for the oracle — while hash-textured samples give
    * the background binomial-tail separation (the min non-planted
    * distance was measured by the `tools.GateProbe` main, source at
    * commit f4abc46; the doc_id-only fixture is identical at every
    * sf), so the ≤ 4 gate cannot admit a false
    * pair. Pair generation reuses [[Documents.simhashPairs]]' banded
    * Hamming join — an aHash IS a 64-bit locality signature, the same
    * inheritance as [[multimodalDedupPhash]]. */
  def multimodalDedupAhash(spark: SparkSession, dir: String,
                           limit: Long = 500L, maxHamming: Int = 4): DataFrame =
    sigPairs(ahashSigs(spark, dir, limit), maxHamming)

  /** The (doc_id, simhash=aHash64) signature frame behind
    * [[multimodalDedupAhash]]: generate → decode → hash, with 2×
    * frame-duplication clones planted for doc_id < 10. */
  private def ahashSigs(spark: SparkSession, dir: String, limit: Long = 500L): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, limit)
      .mapPartitions { it =>
        it.flatMap { id =>
          val rate = 8000 + (id % 8).toInt * 1000
          val channels = 1 + (id % 2).toInt
          val nFrames = 100 + (id % 100).toInt
          val (r0, c0, f0, samples) = MediaTransform.wavSamples(
            MediaTransform.wavTexture(rate, channels, nFrames, id)).get
          val base = (id, aHash64(samples, c0))
          if (id < 10) {
            val dup = MediaTransform.frameDup(samples, c0, 2)
            val out = MediaEncoder.wav(r0 * 2, c0, f0 * 2)
            val bb = java.nio.ByteBuffer.wrap(out)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            dup.indices.foreach(i => bb.putShort(44 + i * 2, dup(i)))
            val (_, c1, _, reread) = MediaTransform.wavSamples(out).get
            Iterator(base, (id + 10000000L, aHash64(reread, c1)))
          } else Iterator(base)
        }
      }.toDF("doc_id", "simhash")
  }

  /** 64-bit tHash (temporal luminance delta hash) — the video member
    * of the perceptual family, the [[aHash64]] recipe lifted from PCM
    * frames to video frames: nearest-neighbor sample 65 representative
    * frames (frame j at ⌊j·n/65⌋ — the same index arithmetic as the
    * audio decimation and the 9×8 image grid), reduce each to its
    * all-integer total luminance (the byte sum over the frame — the
    * B+G+R analogue at whole-frame granularity), one bit per adjacent
    * comparison. Invariance is EXACT for integer-factor frame
    * duplication (a k× fps re-encode: ⌊⌊j·k·n/65⌋/k⌋ = ⌊j·n/65⌋, the
    * audio identity verbatim) and approximate for filtered/transcoded
    * resamples. A production pipeline pairs this temporal signature
    * with per-sampled-frame [[dHash64]]s for spatial discrimination;
    * the temporal hash alone is what the dedup gate joins on, because
    * it is one 64-bit word and inherits the banded Hamming machinery
    * unchanged.
    *
    * DISCRIMINATION requires ≥ 65 frames: below that the sampler
    * picks the same frame for adjacent slots, the strict `>` zeroes
    * those bits, and the near-empty signatures collide corpus-wide
    * (measured: 915 false pairs over 500 short clips). Clips shorter
    * than ~3 s at real frame rates should dedup on per-frame
    * [[dHash64]]s instead — the image tier at k frames per doc. */
  def tHash64(frames: Seq[Array[Byte]]): Long = {
    val n = frames.length
    require(n > 0, "tHash64: empty frame sequence")
    val v = new Array[Long](65)
    var j = 0
    while (j < 65) {
      val f = frames((j.toLong * n / 65).toInt)
      var s = 0L
      var i = 0
      while (i < f.length) { s += (f(i) & 0xff); i += 1 }
      v(j) = s
      j += 1
    }
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (v(i + 1) > v(i)) bits |= 1L << i
      i += 1
    }
    bits
  }

  /** Registered query (HARD oracle, planted-structure recipe):
    * PERCEPTUAL video dedup — a re-contained or integer-factor
    * fps-resampled clip that byte-level dedup cannot see. Each doc's
    * hash-textured AVI ([[MediaTransform.texturePixels]] per frame,
    * frame-mixed ids) is decoded through the real RIFF container walk
    * and tHashed; for doc_id < 10 a genuine near-duplicate is planted
    * under doc_id + 10M by duplicating every frame at 2× fps and
    * re-encoding through [[AviCodec]] — a real resample artifact the
    * floor identity provably maps to Hamming 0. Background separation
    * comes from independent per-frame byte sums (the binomial tail;
    * measured by the spec's pairwise floor over the fixture
    * population). Pairs ride [[Documents.simhashPairs]] — a tHash IS
    * a 64-bit locality signature, the same inheritance as the image
    * and audio rows. */
  def multimodalDedupVhash(spark: SparkSession, dir: String,
                           limit: Long = 500L, maxHamming: Int = 4): DataFrame =
    sigPairs(vhashSigs(spark, dir, limit), maxHamming)

  /** The (doc_id, simhash=tHash64) signatures behind
    * [[multimodalDedupVhash]]: generate → container decode → hash,
    * 2× frame-duplication clones planted for doc_id < 10. */
  def vhashSigs(spark: SparkSession, dir: String, limit: Long = 500L): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, limit)
      .mapPartitions { it =>
        it.flatMap { id =>
          val w = 8 + (id % 8).toInt
          val h = 8 + ((id / 8) % 8).toInt
          // more frames than the 65 hash samples: with n < 65 the
          // sampler picks the same frame for adjacent slots, equal
          // sums zero those bits, and near-empty signatures collide
          // corpus-wide (measured: 915 false pairs at n=8..30)
          val n = 66 + (id % 60).toInt
          val clip = AviCodec.encode(
            (0 until n).map(f => MediaTransform.texturePixels(w, h, id * 131 + f)),
            w, h, fps = 10)
          val (dw, dh, _, frames) = AviCodec.decode(clip).get
          val base = (id, tHash64(frames))
          if (id < 10) {
            val dup = AviCodec.encode(frames.flatMap(f => Seq(f, f)), dw, dh, fps = 20)
            val (_, _, _, reread) = AviCodec.decode(dup).get
            Iterator(base, (id + 10000000L, tHash64(reread)))
          } else Iterator(base)
        }
      }.toDF("doc_id", "simhash")
  }

  /** Registered query (HARD oracle): perceptual dedup over COMPRESSED
    * video — Motion-JPEG clips decoded end-to-end (RIFF walk →
    * per-frame [[JpegCodec]] → [[tHash64]]), the envelope a real
    * capture-pipeline crawl needs. The planted clone for doc_id < 10
    * frame-duplicates the DECODED frames at 2× fps and re-encodes
    * LOSSLESSLY (raw DIB through the same container), so the
    * floor-of-floor identity applies to exactly the pixels the MJPEG
    * decode produced — per-frame quantization loss never enters the
    * identity and each pair sits at Hamming 0 in closed form (the same
    * lossless-re-encode trick as the still-JPEG row). Every base
    * signature runs the full MJPEG decode, so the compressed path is
    * on the oracle-verified path for the WHOLE population; background
    * separation is the spec-measured pairwise floor over that
    * population. */
  def multimodalDedupVideoMjpeg(spark: SparkSession, dir: String,
                                limit: Long = 150L, maxHamming: Int = 4): DataFrame =
    sigPairs(mjpegSigs(spark, dir, limit), maxHamming)

  /** The (doc_id, simhash=tHash64) signatures behind
    * [[multimodalDedupVideoMjpeg]]: texture frames → MJPEG encode →
    * container+JPEG decode → hash; lossless 2×-fps clones of the
    * decoded frames planted for doc_id < 10. */
  def mjpegSigs(spark: SparkSession, dir: String, limit: Long = 150L): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, limit)
      .mapPartitions { it =>
        it.flatMap { id =>
          val w = 8 + (id % 8).toInt
          val h = 8 + ((id / 8) % 8).toInt
          // ≥ 66 frames so the 65-slot sampler never repeats a frame
          // (the vhash lesson: repeated picks zero bits corpus-wide);
          // 150 docs × ~78 frames keeps the full-sweep cost of ~150k
          // per-frame JPEG decodes inside the registry's envelope
          val n = 66 + (id % 24).toInt
          val clip = AviCodec.encodeMjpeg(
            (0 until n).map(f => MediaTransform.texturePixels(w, h, id * 131 + f)),
            w, h, fps = 10)
          val (dw, dh, _, frames) = AviCodec.decode(clip).get
          val base = (id, tHash64(frames))
          if (id < 10) {
            val dup = AviCodec.encode(frames.flatMap(f => Seq(f, f)), dw, dh, fps = 20)
            val (_, _, _, reread) = AviCodec.decode(dup).get
            Iterator(base, (id + 10000000L, tHash64(reread)))
          } else Iterator(base)
        }
      }.toDF("doc_id", "simhash")
  }

  /** Registered query (HARD oracle, planted-structure recipe): video
    * dedup under RESOLUTION rescaling — the artifact [[tHash64]] is
    * blind to (a 2× spatial upscale multiplies every frame's byte sum
    * by ~4, scrambling the temporal comparisons) but per-frame
    * [[dHash64]] provably survives (the same floor identity as the
    * image tier, applied frame by frame). Signature: 8 sampled frames
    * per clip (⌊j·n/8⌋), each dHashed; two clips pair when ≥ 6 of the
    * 8 POSITION-ALIGNED frame hashes sit within the per-frame gate —
    * the multi-witness vote that production video dedup uses, here
    * with exact positional alignment because rescaling preserves the
    * frame timeline. The frame-level candidates come from the same
    * banded Hamming join as every other tier (band on the frame hash,
    * position carried as payload), so candidate volume is governed by
    * frame similarity, never clips². For doc_id < 10 the planted
    * clone re-encodes EVERY frame at 2× resolution through the
    * container — all 8 witnesses match at Hamming 0. */
  def multimodalDedupVideoRescale(spark: SparkSession, dir: String,
                                  limit: Long = 300L, maxHamming: Int = 4,
                                  nSample: Int = 8, minVotes: Int = 6): DataFrame = {
    import spark.implicits._
    val sigs = mediaIds(spark, dir, limit)
      .mapPartitions { it =>
        it.flatMap { id =>
          val w = 8 + (id % 8).toInt
          val h = 8 + ((id / 8) % 8).toInt
          val n = 12 + (id % 20).toInt
          val frames = (0 until n).map(f => MediaTransform.texturePixels(w, h, id * 131 + f))
          val (dw, dh, _, dec) = AviCodec.decode(AviCodec.encode(frames, w, h, 10)).get
          def sampled(fs: Seq[Array[Byte]], fw: Int, fh: Int) =
            (0 until nSample).map { j =>
              (j, dHash64(fs((j.toLong * fs.length / nSample).toInt), fw, fh))
            }
          val base = sampled(dec, dw, dh).map { case (p, s) => (id, p, s) }
          if (id < 10) {
            val up = AviCodec.encode(
              dec.map(f => MediaTransform.resizeNearest(f, dw, dh, dw * 2, dh * 2)),
              dw * 2, dh * 2, 10)
            val (uw, uh, _, updec) = AviCodec.decode(up).get
            base ++ sampled(updec, uw, uh).map { case (p, s) => (id + 10000000L, p, s) }
          } else base
        }
      }.toDF("vid", "pos", "simhash")
    // frame-level banded Hamming join — the text-tier machinery
    // verbatim, with (vid, pos) packed into the numeric key (pos < 16)
    // so the pair machinery's Long contract holds; then the vote
    val framePairs = sigPairs(
      sigs.select((col("vid") * 16 + col("pos")).as("doc_id"), col("simhash")),
      maxHamming)
    framePairs
      .select(expr("d1 DIV 16").as("v1"), (col("d1") % 16).as("p1"),
        expr("d2 DIV 16").as("v2"), (col("d2") % 16).as("p2"))
      .filter(col("p1") === col("p2") && col("v1") =!= col("v2"))
      .select(least(col("v1"), col("v2")).as("d1"),
        greatest(col("v1"), col("v2")).as("d2"), col("p1"))
      .distinct()
      .groupBy("d1", "d2")
      .agg(count(lit(1)).cast("int").as("matched_frames"))
      .filter(col("matched_frames") >= minVotes)
      .orderBy("d1", "d2")
  }

  /** Registered query (HARD oracle): the video twin of the thumbnail/
    * audio-decimation rows — generate GRADIENT-frame AVIs (pixel at
    * frame f, image coords (x, y): B=(7x+13y+5f+id)%256,
    * G=(3x+5y+11f)%256, R=(x+y+f)%256 — closed forms the oracle
    * recomputes), keep every `k`-th frame, re-encode through the
    * container, re-decode, and sum the surviving bytes. The sum comes
    * from the final re-encoded bytes, so the whole frame-indexing /
    * row-flip / padding chain is on the verified path. */
  def multimodalVideoSample(spark: SparkSession, dir: String,
                            limit: Long = 200L, k: Int = 3): DataFrame = {
    import spark.implicits._
    mediaIds(spark, dir, limit)
      .mapPartitions { it =>
        it.map { id =>
          val w = 8 + (id % 8).toInt
          val h = 8 + ((id / 8) % 8).toInt
          val n = 6 + (id % 10).toInt
          def grad(f: Int): Array[Byte] = {
            val px = new Array[Byte](w * h * 3)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val o = (y * w + x) * 3
                px(o) = ((7 * x + 13 * y + 5 * f + id) % 256).toByte
                px(o + 1) = ((3 * x + 5 * y + 11 * f) % 256).toByte
                px(o + 2) = ((x + y + f) % 256).toByte
                x += 1
              }
              y += 1
            }
            px
          }
          val clip = AviCodec.encode((0 until n).map(grad), w, h, fps = 12)
          val (dw, dh, _, frames) = AviCodec.decode(clip).get
          val kept = frames.indices.collect { case i if i % k == 0 => frames(i) }
          val out = AviCodec.encode(kept, dw, dh, fps = 12 / k)
          val (_, _, fpsOut, reread) = AviCodec.decode(out).get
          val sum = reread.map(_.foldLeft(0L)((a, b) => a + (b & 0xff))).sum
          (id, dw, dh, reread.length, fpsOut, sum)
        }
      }
      .toDF("doc_id", "width", "height", "n_frames_out", "fps_out", "pix_sum")
      .orderBy("doc_id")
  }

  /** Registered query (HARD oracle): generate → decode over REAL
    * format headers, so all four [[MediaDecoder]] branches (BMP, PNG,
    * WAV, JPEG) run driver-visibly. Every decoded row's dims are the
    * closed-form function of doc_id that [[MediaEncoder.forId]]
    * defines, which DuckDB recomputes directly in SQL — so the oracle
    * verifies that the dims survived a real encode → header-parse
    * round trip through actual BMP/PNG/WAV bytes. The `content_hash`
    * (md5 of the ENCODED media bytes, which SQL over the source tables
    * cannot recompute) is deliberately projected away here;
    * MultimodalSpec covers it on [[decodeStub]]. */
  def multimodalDecodeReal(spark: SparkSession, dir: String): DataFrame =
    decodeStub(syntheticMedia(spark, dir)).toDF()
      .select("doc_id", "width", "height", "n_frames")
      .orderBy("doc_id")
}
