package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: treat image/audio/video payloads as opaque
  * binary columns with typed metadata and run decode / feature-extract as
  * a BATCHED per-partition stage (the Scala analog of `mapInPandas`:
  * rows are grouped into fixed-size batches so a real decoder would
  * amortize model/codec state per batch, not per row).
  *
  * Decoders are pluggable ([[MediaDecoder]]): [[StubDecoder]] keeps the
  * deterministic byte-statistics fake (oracle-parity arm — this container
  * has no image/audio libraries), and [[PngHeaderDecoder]] is a REAL
  * stdlib-only byte parser (PNG signature + big-endian IHDR fields +
  * CRC-32 chunk verification, the integrity check Pillow's `img.verify()`
  * performs — reference analog
  * SearchingS3Buckets/S3LookThrough_Final.py:49-57). Everything
  * Spark-side is real for both arms: schema, partitioning (narrow stage,
  * no shuffle), batch shape, and the feature-vector output column.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])
  final case class DecodedRow(doc_id: Long, media_type: String,
      n_bytes: Int, batch_size: Int, features: Array[Double])

  val FeatureDim = 8

  /** A batch-at-a-time media decoder: the batch is the unit a codec or
    * model would process at once (decoder state amortizes per batch /
    * per partition, never per row).
    */
  trait MediaDecoder extends Serializable {
    def decodeBatch(batch: Seq[MediaRow]): Seq[DecodedRow]
  }

  /** STUB decoder — deterministic fake features from byte statistics.
    * A real deployment replaces exactly this object; accumulation is
    * double-precision in ascending byte order, so the result is portable
    * arithmetic an external oracle can reproduce.
    */
  object StubDecoder extends MediaDecoder {
    def decodeBatch(batch: Seq[MediaRow]): Seq[DecodedRow] = {
      val bs = batch.size
      batch.map { r =>
        val feats = new Array[Double](FeatureDim)
        var i = 0
        while (i < r.payload.length) {
          feats(i % FeatureDim) += (r.payload(i) & 0xff) / 255.0
          i += 1
        }
        val n = math.max(1, r.payload.length / FeatureDim)
        DecodedRow(r.doc_id, r.media_type, r.payload.length, bs,
          feats.map(_ / n))
      }
    }
  }

  /** REAL decoder arm: parses actual PNG bytes with only the JDK.
    * Checks the 8-byte signature, reads the IHDR chunk's big-endian
    * width/height and bit-depth/color-type bytes, and verifies the
    * chunk's CRC-32 (computed over chunk type + data, per the PNG spec)
    * with java.util.zip.CRC32. Feature layout (fixed [[FeatureDim]]
    * doubles so the stage schema is decoder-independent):
    * [sig_ok, width, height, bit_depth, color_type, crc_ok, 0, 0];
    * a bad signature yields [0, -1, -1, -1, -1, -1, 0, 0] — the query
    * layer maps sentinels back to typed NULLs.
    */
  object PngHeaderDecoder extends MediaDecoder {
    private val Signature =
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    private def be32(b: Array[Byte], off: Int): Long =
      ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
        ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

    def decodeBatch(batch: Seq[MediaRow]): Seq[DecodedRow] = {
      val bs = batch.size
      val crc = new java.util.zip.CRC32 // amortized per batch
      batch.map { r =>
        val b = r.payload
        val feats = new Array[Double](FeatureDim)
        val sigOk = b.length >= 33 &&
          java.util.Arrays.equals(b, 0, 8, Signature, 0, 8)
        if (!sigOk) {
          feats(0) = 0.0
          java.util.Arrays.fill(feats, 1, 6, -1.0)
        } else {
          // IHDR layout after the signature: len(4) type(4) data(13) crc(4)
          val dataLen = be32(b, 8).toInt
          val w = be32(b, 16)
          val h = be32(b, 20)
          val depth = b(24) & 0xff
          val color = b(25) & 0xff
          val crcOk = dataLen >= 0 && b.length >= 16 + dataLen + 4 && {
            crc.reset()
            crc.update(b, 12, 4 + dataLen) // chunk type + data
            crc.getValue == be32(b, 16 + dataLen)
          }
          feats(0) = 1.0; feats(1) = w.toDouble; feats(2) = h.toDouble
          feats(3) = depth.toDouble; feats(4) = color.toDouble
          feats(5) = if (crcOk) 1.0 else 0.0
        }
        DecodedRow(r.doc_id, r.media_type, b.length, bs, feats)
      }
    }
  }

  /** REAL decoder arm #2: parses actual (classic, unencrypted) PDF bytes
    * with only the JDK — PDF is a text-structured format, so parsing is
    * offset scanning of the latin-1 view (1 byte = 1 char, lossless).
    * Reads the "%PDF-1.x" header version, the trailer's /Size (xref
    * entry count) and the page tree's /Count, and verifies STRUCTURAL
    * integrity the way PyPDF2's reader does on open: the startxref
    * offset must land exactly on the "xref" keyword (reference analog
    * MiscTestingScripts/Ethan_PDFandJPG3.py:64-84 — PdfReader open +
    * page count). Feature layout (fixed [[FeatureDim]]):
    * [hdr_ok, ver_minor, size, page_count, xref_ok, 0, 0, 0]; a bad
    * header yields [0, -1, -1, -1, -1, -1, 0, 0].
    */
  object PdfHeaderDecoder extends MediaDecoder {
    /** First integer after `key` in `s` (whitespace-tolerant), -1 if
      * absent — enough for the single-trailer classic files this arm
      * targets.
      */
    private def intAfter(s: String, from: Int, key: String): Long = {
      val i = s.indexOf(key, from)
      if (i < 0) return -1L
      var j = i + key.length
      while (j < s.length && (s.charAt(j) == ' ' || s.charAt(j) == '\n' ||
        s.charAt(j) == '\r')) j += 1
      var v = 0L; var any = false
      while (j < s.length && s.charAt(j) >= '0' && s.charAt(j) <= '9') {
        v = v * 10 + (s.charAt(j) - '0'); j += 1; any = true
      }
      if (any) v else -1L
    }

    def decodeBatch(batch: Seq[MediaRow]): Seq[DecodedRow] = {
      val bs = batch.size
      batch.map { r =>
        val s = new String(r.payload,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        val feats = new Array[Double](FeatureDim)
        val hdrOk = s.length >= 8 && s.startsWith("%PDF-1.") &&
          s.charAt(7).isDigit
        if (!hdrOk) {
          java.util.Arrays.fill(feats, 1, 6, -1.0)
        } else {
          val sx = s.lastIndexOf("startxref")
          val off = if (sx < 0) -1L else intAfter(s, sx, "startxref")
          val xrefOk = off >= 0 && off + 4 <= s.length &&
            s.startsWith("xref", off.toInt)
          feats(0) = 1.0
          feats(1) = (s.charAt(7) - '0').toDouble
          feats(2) = intAfter(s, 0, "/Size").toDouble
          feats(3) = intAfter(s, 0, "/Count").toDouble
          feats(4) = if (xrefOk) 1.0 else 0.0
        }
        DecodedRow(r.doc_id, r.media_type, r.payload.length, bs, feats)
      }
    }
  }

  /** The batched decode stage: binary rows -> grouped(batchSize) ->
    * decode -> feature rows. Narrow (partitioning preserved); decoder
    * state is built once per partition/batch.
    */
  def decodeFeatures(spark: SparkSession, media: DataFrame,
      batchSize: Int = 64,
      decoder: MediaDecoder = StubDecoder): Dataset[DecodedRow] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.grouped(batchSize).flatMap(g => decoder.decodeBatch(g.toSeq))
    }
  }

  /** Build an opaque media table from the documents table (payload =
    * UTF-8 bytes standing in for encoded media; metadata typed).
    */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select($"doc_id",
      when(pmod($"doc_id", lit(3)) === 0, "image/png")
        .when(pmod($"doc_id", lit(3)) === 1, "audio/wav")
        .otherwise("video/mp4").as("media_type"),
      encode($"text", "UTF-8").as("payload"))
  }

  /** Deterministic REAL PNG header bytes for doc_id: the 8-byte
    * signature, a spec-valid IHDR (width = 1 + id % 640,
    * height = 1 + id % 480, bit depth 8, color type from the spec-legal
    * set {0,2,3,4,6} by id % 5, compression/filter/interlace 0) and its
    * correct CRC-32 — then two deterministic corruption families so the
    * parser's validity arms are exercised: id % 11 == 0 flips a
    * signature byte; else id % 13 == 0 flips the CRC's last byte.
    */
  def pngBytes(docId: Long): Array[Byte] = {
    val w = (1 + docId % 640).toInt
    val h = (1 + docId % 480).toInt
    val color = Array(0, 2, 3, 4, 6)((docId % 5).toInt)
    val out = new Array[Byte](33)
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    var i = 0
    while (i < 8) { out(i) = sig(i).toByte; i += 1 }
    def be32(off: Int, v: Long): Unit = {
      out(off) = ((v >>> 24) & 0xff).toByte
      out(off + 1) = ((v >>> 16) & 0xff).toByte
      out(off + 2) = ((v >>> 8) & 0xff).toByte
      out(off + 3) = (v & 0xff).toByte
    }
    be32(8, 13L) // IHDR data length
    out(12) = 'I'; out(13) = 'H'; out(14) = 'D'; out(15) = 'R'
    be32(16, w.toLong)
    be32(20, h.toLong)
    out(24) = 8 // bit depth
    out(25) = color.toByte
    out(26) = 0; out(27) = 0; out(28) = 0 // compression, filter, interlace
    val crc = new java.util.zip.CRC32
    crc.update(out, 12, 17) // type + 13 data bytes
    be32(29, crc.getValue)
    if (docId % 11 == 0) out(0) = (out(0) ^ 0xff).toByte
    else if (docId % 13 == 0) out(32) = (out(32) ^ 0xff).toByte
    out
  }

  /** Deterministic REAL classic-PDF bytes for doc_id: header %PDF-1.m
    * (m = id % 8), a catalog, a page tree with K = 1 + id % 5 kids, K
    * page objects, an xref table carrying the objects' REAL byte
    * offsets, and a trailer with /Size (= 3 + K entries incl. the free
    * object 0) + startxref. Corruption families mirror [[pngBytes]]:
    * id % 11 == 0 breaks the header magic; else id % 13 == 0 points
    * startxref one byte past the xref keyword (structurally broken).
    */
  def pdfBytes(docId: Long): Array[Byte] = {
    val k = (1 + docId % 5).toInt
    val n = 3 + k // xref entries: free obj 0 + catalog + pages + K pages
    val sb = new StringBuilder
    sb.append(s"%PDF-1.${(docId % 8).toInt}\n")
    val objOff = new scala.collection.mutable.ArrayBuffer[Int]
    objOff += sb.length
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    objOff += sb.length
    val kids = (0 until k).map(i => s"${3 + i} 0 R").mkString(" ")
    sb.append(s"2 0 obj\n<< /Type /Pages /Kids [ $kids ] /Count $k >>\nendobj\n")
    for (i <- 0 until k) {
      objOff += sb.length
      sb.append(s"${3 + i} 0 obj\n<< /Type /Page /Parent 2 0 R >>\nendobj\n")
    }
    val xrefAt = sb.length
    sb.append(s"xref\n0 $n\n0000000000 65535 f \n")
    for (off <- objOff) sb.append(f"$off%010d 00000 n \n")
    sb.append(s"trailer\n<< /Size $n /Root 1 0 R >>\n")
    val sx = if (docId % 11 != 0 && docId % 13 == 0) xrefAt + 1 else xrefAt
    sb.append(s"startxref\n$sx\n%%EOF\n")
    val bytes = sb.toString
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    if (docId % 11 == 0) bytes(1) = 'X'.toByte // %XDF-… — header broken
    bytes
  }

  /** REAL decoder arm #3 — WAV/RIFF (the audio media type): parses the
    * canonical 44-byte PCM header with only the JDK. RIFF formats are
    * LITTLE-endian (PNG is big-endian — the two arms together pin both
    * byte orders), so the reads here are LE u16/u32. Validity = the
    * RIFF/WAVE/fmt/data magics plus PCM format tag 1; the integrity
    * check (the role CRC plays for PNG and the startxref dereference for
    * PDF) is the header's own redundancy: byte_rate must equal
    * sample_rate × block_align. Feature layout (fixed [[FeatureDim]]):
    * [riff_ok, channels, sample_rate, bits_per_sample, n_samples,
    * rate_ok, 0, 0]; a bad header yields [0, -1, -1, -1, -1, -1, 0, 0].
    * n_samples = data chunk size / block_align (integer by
    * construction — no float duration to drift cross-engine).
    */
  object WavHeaderDecoder extends MediaDecoder {
    private def le32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

    private def le16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

    private def magic(b: Array[Byte], off: Int, m: String): Boolean =
      (0 until m.length).forall(i => b(off + i) == m.charAt(i).toByte)

    def decodeBatch(batch: Seq[MediaRow]): Seq[DecodedRow] = {
      val bs = batch.size
      batch.map { r =>
        val b = r.payload
        val feats = new Array[Double](FeatureDim)
        val ok = b.length >= 44 && magic(b, 0, "RIFF") &&
          magic(b, 8, "WAVE") && magic(b, 12, "fmt ") &&
          magic(b, 36, "data") && le16(b, 20) == 1 // PCM format tag
        if (!ok) {
          java.util.Arrays.fill(feats, 1, 6, -1.0)
        } else {
          val ch = le16(b, 22)
          val sr = le32(b, 24)
          val byteRate = le32(b, 28)
          val blockAlign = le16(b, 32)
          val bps = le16(b, 34)
          val dataSize = le32(b, 40)
          feats(0) = 1.0; feats(1) = ch.toDouble; feats(2) = sr.toDouble
          feats(3) = bps.toDouble
          feats(4) = if (blockAlign > 0) (dataSize / blockAlign).toDouble else -1.0
          feats(5) = if (byteRate == sr * blockAlign) 1.0 else 0.0
        }
        DecodedRow(r.doc_id, r.media_type, b.length, bs, feats)
      }
    }
  }

  /** Deterministic REAL WAV header bytes for doc_id: canonical 44-byte
    * RIFF/WAVE PCM header (format tag 1, channels = 1 + id % 2, sample
    * rate from the standard set {8000, 16000, 22050, 44100, 48000} by
    * id % 5, bits per sample from {8, 16, 24, 32} by id % 4, data size
    * = (id % 1000) samples × block align, RIFF size = 36 + data size).
    * Corruption families mirror [[pngBytes]]/[[pdfBytes]]: id % 11 == 0
    * flips the leading 'R'; else id % 13 == 0 stores byte_rate off by
    * one (violating the sample_rate × block_align identity).
    */
  def wavBytes(docId: Long): Array[Byte] = {
    val ch = (1 + docId % 2).toInt
    val sr = Array(8000, 16000, 22050, 44100, 48000)((docId % 5).toInt)
    val bps = Array(8, 16, 24, 32)((docId % 4).toInt)
    val blockAlign = ch * bps / 8
    val dataSize = (docId % 1000).toInt * blockAlign
    val byteRate = sr * blockAlign +
      (if (docId % 11 != 0 && docId % 13 == 0) 1 else 0)
    val out = new Array[Byte](44)
    def ascii(off: Int, m: String): Unit =
      for (i <- 0 until m.length) out(off + i) = m.charAt(i).toByte
    def le32(off: Int, v: Long): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >>> 8) & 0xff).toByte
      out(off + 2) = ((v >>> 16) & 0xff).toByte
      out(off + 3) = ((v >>> 24) & 0xff).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >>> 8) & 0xff).toByte
    }
    ascii(0, "RIFF"); le32(4, 36L + dataSize); ascii(8, "WAVE")
    ascii(12, "fmt "); le32(16, 16L); le16(20, 1); le16(22, ch)
    le32(24, sr.toLong); le32(28, byteRate.toLong)
    le16(32, blockAlign); le16(34, bps)
    ascii(36, "data"); le32(40, dataSize.toLong)
    if (docId % 11 == 0) out(0) = (out(0) ^ 0xff).toByte
    out
  }

  /** REAL decoder arm #4 — JPEG/JFIF (the reference's other image type:
    * the Pillow `img.verify()` path accepts .jpg alongside .png —
    * SearchingS3Buckets/S3LookThrough_Final.py:49-57). Unlike the fixed-
    * offset WAV header, JPEG dimensions live in a SOF segment at a
    * VARIABLE offset — the decoder must walk the marker-segment chain
    * (each segment: 0xFF marker, u16 big-endian length INCLUDING the
    * length field) until it reaches SOF0 (baseline) or SOF2
    * (progressive). That walk is the integrity check: a corrupted
    * segment length desynchronizes it (the next byte is not 0xFF) and
    * the decoder reports a structurally broken file, exactly like PDF's
    * startxref dereference. Feature layout (fixed [[FeatureDim]]):
    * [soi_ok, height, width, n_components, progressive, walk_ok, 0, 0];
    * bad magic yields [0, -1, -1, -1, -1, -1, 0, 0], a broken walk
    * [1, -1, -1, -1, -1, 0, 0, 0].
    */
  object JpegHeaderDecoder extends MediaDecoder {
    private def u16(b: Array[Byte], off: Int): Int =
      ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

    def decodeBatch(batch: Seq[MediaRow]): Seq[DecodedRow] = {
      val bs = batch.size
      batch.map { r =>
        val b = r.payload
        val feats = new Array[Double](FeatureDim)
        val soi = b.length >= 4 &&
          (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8
        if (!soi) {
          java.util.Arrays.fill(feats, 1, 6, -1.0)
        } else {
          feats(0) = 1.0
          java.util.Arrays.fill(feats, 1, 5, -1.0)
          // marker-segment walk from just past SOI
          var pos = 2
          var done = false
          while (!done && pos + 4 <= b.length) {
            if ((b(pos) & 0xff) != 0xff) {
              done = true // desynchronized: corrupted segment length
            } else {
              val marker = b(pos + 1) & 0xff
              val len = u16(b, pos + 2)
              if ((marker == 0xc0 || marker == 0xc2) && pos + 2 + len <= b.length) {
                // SOF: precision u8, height u16, width u16, ncomp u8
                feats(1) = u16(b, pos + 5).toDouble
                feats(2) = u16(b, pos + 7).toDouble
                feats(3) = (b(pos + 9) & 0xff).toDouble
                feats(4) = if (marker == 0xc2) 1.0 else 0.0
                feats(5) = 1.0
                done = true
              } else if (len < 2) {
                done = true // structurally impossible length
              } else {
                pos += 2 + len
              }
            }
          }
        }
        DecodedRow(r.doc_id, r.media_type, b.length, bs, feats)
      }
    }
  }

  /** Deterministic REAL JPEG header bytes for doc_id: SOI, a spec-valid
    * JFIF APP0 (16 bytes of payload), a DQT stub segment (so the SOF is
    * never at a fixed offset — its position depends on the DQT size,
    * 1 + id % 4 filler bytes), then SOF0 (baseline) or SOF2 (progressive,
    * every third id) carrying precision 8, height = 1 + id % 1080,
    * width = 1 + id % 1920, components 1 or 3 by id % 2. Corruption
    * families mirror the other arms: id % 11 == 0 flips the SOI's second
    * byte (bad magic); else id % 13 == 0 adds one to the APP0 length so
    * the marker walk desynchronizes (structurally broken).
    */
  def jpegBytes(docId: Long): Array[Byte] = {
    val h = (1 + docId % 1080).toInt
    val w = (1 + docId % 1920).toInt
    val ncomp = if (docId % 2 == 0) 3 else 1
    val sofMarker = if (docId % 3 == 0) 0xc2 else 0xc0
    val dqtFill = (1 + docId % 4).toInt
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def u8(v: Int): Unit = out += (v & 0xff).toByte
    def u16b(v: Int): Unit = { u8(v >>> 8); u8(v) }
    u8(0xff); u8(0xd8) // SOI
    // APP0/JFIF: len 16, "JFIF\0", version 1.2, units 0, density 1x1, no thumb
    u8(0xff); u8(0xe0)
    val app0LenAt = out.length
    u16b(16)
    "JFIF".foreach(c => u8(c.toInt)); u8(0)
    u8(1); u8(2); u8(0); u16b(1); u16b(1); u8(0); u8(0)
    // DQT stub of variable size so SOF floats
    u8(0xff); u8(0xdb); u16b(2 + dqtFill)
    for (i <- 0 until dqtFill) u8((docId + i).toInt & 0xff)
    // SOF0/SOF2: len = 8 + 3*ncomp, precision, height, width, ncomp, comps
    u8(0xff); u8(sofMarker); u16b(8 + 3 * ncomp); u8(8)
    u16b(h); u16b(w); u8(ncomp)
    for (c <- 0 until ncomp) { u8(c + 1); u8(0x11); u8(0) }
    val bytes = out.toArray
    if (docId % 11 == 0) bytes(1) = (bytes(1) ^ 0xff).toByte
    else if (docId % 13 == 0) {
      // APP0 length +1: the walk lands one byte late, off the 0xFF grid
      bytes(app0LenAt + 1) = (bytes(app0LenAt + 1) + 1).toByte
    }
    bytes
  }

  /** Media frame of `mediaType` whose payloads are `bytes(doc_id)` — e.g.
    * [[pngBytes]], [[pdfBytes]], [[wavBytes]] or [[jpegBytes]], real bytes
    * the matching header decoder round-trips by actual parsing.
    */
  def mediaFrom(spark: SparkSession, docIds: DataFrame, mediaType: String,
      bytes: Long => Array[Byte]): DataFrame = {
    import spark.implicits._
    docIds.select($"doc_id".cast("long")).as[Long]
      .map(id => MediaRow(id, mediaType, bytes(id)))
      .toDF()
  }
}
