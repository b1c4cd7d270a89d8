package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** A media payload row: opaque bytes + typed metadata — the multimodal
  * column pattern (binary payload, mime tag, string-map metadata). */
final case class MediaRow(
    doc_id: Long,
    payload: Array[Byte],
    mime: String,
    meta: Map[String, String])

/** Projection of the documents table feeding [[Multimodal.toMedia]]
  * (top-level: Encoder codegen must be able to construct it). */
final case class DocRow(doc_id: Long, text: String, source: String, lang: String)

/** Features the decoder extracts per payload. `sample_rate` is audio-only
  * (0 elsewhere); `width`/`height` are image/video-only; `handler` is
  * the ISO-BMFF track handler type (`vide` for a parsed video track,
  * empty for other modalities and stub fallbacks). */
final case class MediaFeatures(
    doc_id: Long,
    mime: String,
    n_bytes: Int,
    checksum: Long,
    width: Int,
    height: Int,
    sample_rate: Int,
    n_frames: Int,
    handler: String)

/** Multimodal-column plumbing (builder prompt: image/audio/video as
  * opaque binary + typed metadata).
  *
  * The PNG and WAV paths are REAL header codecs, no libraries involved:
  * [[Multimodal.buildPng]] emits the 8-byte PNG signature plus
  * CRC32-correct IHDR/IDAT/IEND chunks (the IDAT body is raw, not zlib —
  * chunk-structure-valid, which is exactly what a header parse consumes)
  * and [[Multimodal.pngDims]] reads width/height back from the IHDR;
  * [[Multimodal.buildWav]] emits a RIFF/WAVE container with a PCM
  * `fmt ` chunk and [[Multimodal.wavFmt]] walks the chunk list to
  * recover sample-rate/channels/frame-count; [[Multimodal.buildMp4]]
  * emits a minimal ISO-BMFF box tree (ftyp, moov with mvhd + a full
  * video track: trak/tkhd and mdia holding mdhd + a `vide`-handler
  * hdlr, mdat) and [[Multimodal.mp4Meta]] walks the boxes to recover
  * the tkhd 16.16 fixed-point dimensions, the MEDIA-level
  * mdhd duration/timescale (the track's own clock, not the movie's)
  * and the hdlr handler type — all three modalities are real header
  * codecs with no stub branch. Malformed payloads fall back to the
  * deterministic stub features — decode is total.
  *
  * The Spark side is the part that matters at 100 TB and is fully real:
  * binary+metadata schema, typed `Dataset[MediaRow]` encoding, batched
  * `mapPartitions` execution (fixed-size batches, how a vectorized
  * decode UDF consumes record batches). Payloads stay in executors
  * end-to-end: no collect, no shuffle — a pure map stage whose
  * parallelism is the scan's.
  */
object Multimodal {

  /** Batch size for the decoder loop — the record-batch shape a
    * vectorized UDF would see. */
  val DecodeBatchSize = 64

  // ---- PNG: signature + CRC32-correct chunks -------------------------

  private val PngSignature: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def pngChunk(ctype: String, data: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer.allocate(12 + data.length).order(ByteOrder.BIG_ENDIAN)
    buf.putInt(data.length)
    val typeBytes = ctype.getBytes(UTF_8)
    buf.put(typeBytes).put(data)
    val crc = new CRC32
    crc.update(typeBytes); crc.update(data)
    buf.putInt(crc.getValue.toInt)
    buf.array()
  }

  /** Structurally valid PNG byte stream: signature, IHDR (8-bit RGB),
    * one IDAT chunk carrying `body` verbatim (raw, not zlib — valid
    * chunk layout, not a decodable pixel stream), IEND. */
  def buildPng(width: Int, height: Int, body: Array[Byte]): Array[Byte] = {
    val ihdr = ByteBuffer.allocate(13).order(ByteOrder.BIG_ENDIAN)
      .putInt(width).putInt(height)
      .put(8.toByte)  // bit depth
      .put(2.toByte)  // color type: truecolor
      .put(0.toByte).put(0.toByte).put(0.toByte) // compression/filter/interlace
      .array()
    PngSignature ++ pngChunk("IHDR", ihdr) ++ pngChunk("IDAT", body) ++
      pngChunk("IEND", Array.emptyByteArray)
  }

  /** Parse (width, height) from a PNG's IHDR; None unless the signature
    * and leading IHDR chunk are present and sane. */
  def pngDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes.length < 24) return None
    if (!bytes.take(8).sameElements(PngSignature)) return None
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val len = buf.getInt(8)
    val ctype = new String(bytes, 12, 4, UTF_8)
    if (ctype != "IHDR" || len != 13) return None
    val w = buf.getInt(16); val h = buf.getInt(20)
    if (w <= 0 || h <= 0) None else Some((w, h))
  }

  // ---- WAV: RIFF container with PCM fmt chunk ------------------------

  /** Valid RIFF/WAVE container: PCM `fmt ` chunk (16-bit samples) + a
    * `data` chunk carrying `body` truncated to whole frames. */
  def buildWav(sampleRate: Int, channels: Int, body: Array[Byte]): Array[Byte] = {
    val blockAlign = channels * 2
    val dataLen = math.max(blockAlign, body.length / blockAlign * blockAlign)
    val data = java.util.Arrays.copyOf(body, dataLen)
    val buf = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes(UTF_8)).putInt(36 + dataLen).put("WAVE".getBytes(UTF_8))
    buf.put("fmt ".getBytes(UTF_8)).putInt(16)
      .putShort(1.toShort)                    // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * blockAlign)        // byte rate
      .putShort(blockAlign.toShort)
      .putShort(16.toShort)                   // bits per sample
    buf.put("data".getBytes(UTF_8)).putInt(dataLen).put(data)
    buf.array()
  }

  /** Walk the RIFF chunk list for `fmt ` and `data`; returns
    * (sampleRate, channels, nFrames). Tolerates unknown chunks and
    * truncation — None on anything that isn't a WAVE container. */
  def wavFmt(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (bytes.length < 12) return None
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (new String(bytes, 0, 4, UTF_8) != "RIFF" ||
        new String(bytes, 8, 4, UTF_8) != "WAVE") return None
    var off = 12
    var fmt: Option[(Int, Int, Int)] = None // rate, channels, blockAlign
    var dataLen = -1
    while (off + 8 <= bytes.length && (fmt.isEmpty || dataLen < 0)) {
      val ctype = new String(bytes, off, 4, UTF_8)
      val clen = buf.getInt(off + 4)
      if (clen < 0 || off + 8 + clen > bytes.length) return None
      if (ctype == "fmt " && clen >= 16) {
        val channels = buf.getShort(off + 10).toInt
        val rate = buf.getInt(off + 12)
        val blockAlign = buf.getShort(off + 20).toInt
        if (channels <= 0 || rate <= 0 || blockAlign <= 0) return None
        fmt = Some((rate, channels, blockAlign))
      } else if (ctype == "data") dataLen = clen
      off += 8 + clen + (clen & 1) // RIFF chunks are word-aligned
    }
    fmt.flatMap { case (rate, ch, ba) =>
      if (dataLen < 0) None else Some((rate, ch, dataLen / ba))
    }
  }

  /** Decode the PCM payload: walk the chunk list to `data` and read its
    * body as signed little-endian 16-bit samples (interleaved channels
    * flattened — energy features are channel-agnostic). None on
    * non-WAVE containers, same tolerance contract as [[wavFmt]]. */
  def wavSamples(bytes: Array[Byte]): Option[Array[Int]] = {
    if (bytes.length < 12) return None
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (new String(bytes, 0, 4, UTF_8) != "RIFF" ||
        new String(bytes, 8, 4, UTF_8) != "WAVE") return None
    var off = 12
    while (off + 8 <= bytes.length) {
      val ctype = new String(bytes, off, 4, UTF_8)
      val clen = buf.getInt(off + 4)
      if (clen < 0 || off + 8 + clen > bytes.length) return None
      if (ctype == "data")
        return Some(Array.tabulate(clen / 2)(i => buf.getShort(off + 8 + 2 * i).toInt))
      off += 8 + clen + (clen & 1)
    }
    None
  }

  // ---- JPEG: marker stream with JFIF APP0 + SOF ----------------------

  /** Structurally valid JPEG marker stream: SOI, JFIF APP0, a COM
    * segment carrying `body`, an SOF0 (baseline) or SOF2 (progressive)
    * frame header with the given dimensions, EOI. Header codec, not an
    * entropy coder — no DQT/DHT/SOS, the same contract as
    * [[buildPng]]/[[buildMp4]]. */
  def buildJpeg(width: Int, height: Int, progressive: Boolean,
                body: Array[Byte]): Array[Byte] = {
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(4 + payload.length).order(ByteOrder.BIG_ENDIAN)
      b.put(0xFF.toByte).put(marker.toByte)
        .putShort((payload.length + 2).toShort).put(payload)
      b.array()
    }
    val app0 = {
      val b = ByteBuffer.allocate(14).order(ByteOrder.BIG_ENDIAN)
      b.put("JFIF".getBytes(UTF_8)).put(0.toByte) // identifier + NUL
        .put(1.toByte).put(1.toByte)              // version 1.1
        .put(0.toByte)                            // units: none
        .putShort(1).putShort(1)                  // densities
        .put(0.toByte).put(0.toByte)              // no thumbnail
      b.array()
    }
    val sof = {
      val b = ByteBuffer.allocate(15).order(ByteOrder.BIG_ENDIAN)
      b.put(8.toByte)                 // precision
        .putShort(height.toShort).putShort(width.toShort)
        .put(3.toByte)                // components
      for (c <- 1 to 3)
        b.put(c.toByte).put(0x11.toByte).put(0.toByte)
      b.array()
    }
    Array(0xFF.toByte, 0xD8.toByte) ++            // SOI
      seg(0xE0, app0) ++
      seg(0xFE, body) ++                          // COM
      seg(if (progressive) 0xC2 else 0xC0, sof) ++
      Array(0xFF.toByte, 0xD9.toByte)             // EOI
  }

  /** Parse (width, height, progressive) by walking the marker stream to
    * the first SOF0–SOF3; None unless the stream starts with SOI and a
    * well-formed frame header is found before EOI/SOS/truncation. */
  def jpegMeta(bytes: Array[Byte]): Option[(Int, Int, Boolean)] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xFF || (bytes(1) & 0xff) != 0xD8)
      return None
    var i = 2
    while (i + 3 < bytes.length) {
      if ((bytes(i) & 0xff) != 0xFF) return None
      val marker = bytes(i + 1) & 0xff
      if (marker == 0xD9 || marker == 0xDA) return None // EOI/SOS first
      if (marker >= 0xD0 && marker <= 0xD8) { i += 2 }  // bare markers
      else {
        val len = ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
        if (len < 2 || i + 2 + len > bytes.length) return None
        if (marker >= 0xC0 && marker <= 0xC3) {
          if (len < 7) return None
          val h = ((bytes(i + 5) & 0xff) << 8) | (bytes(i + 6) & 0xff)
          val w = ((bytes(i + 7) & 0xff) << 8) | (bytes(i + 8) & 0xff)
          if (w <= 0 || h <= 0) return None
          return Some((w, h, marker == 0xC2))
        }
        i += 2 + len
      }
    }
    None
  }

  private[graft] def expectedJpegDims(docId: Long): (Int, Int) =
    (32 + (docId % 480).toInt, 32 + (docId % 270).toInt)

  // ---- MP4: minimal ISO-BMFF box tree --------------------------------

  /** mvhd timescale, chosen as the frame rate so duration-in-ticks IS
    * the frame count — the builder convention [[mp4Meta]] decodes. */
  val Mp4Timescale = 24

  private def mp4Box(btype: String, payload: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 + payload.length).order(ByteOrder.BIG_ENDIAN)
    buf.putInt(8 + payload.length).put(btype.getBytes(UTF_8)).put(payload)
    buf.array()
  }

  /** Minimal valid ISO-BMFF (mp4) stream: `ftyp` (isom), `moov` holding
    * a version-0 `mvhd` (timescale = [[Mp4Timescale]], duration =
    * `nFrames` ticks) and one full video track — `tkhd` (16.16
    * fixed-point width/height, unity matrix) plus `mdia` with a
    * version-0 `mdhd` (the track's OWN media timescale/duration) and a
    * `hdlr` declaring the `vide` handler — and an `mdat` carrying
    * `body` verbatim. Box sizes are fixed: 20 + 289 + (8 + body.length)
    * = 317 + body. */
  def buildMp4(width: Int, height: Int, nFrames: Int, body: Array[Byte]): Array[Byte] = {
    val ftyp = mp4Box("ftyp", ByteBuffer.allocate(12).order(ByteOrder.BIG_ENDIAN)
      .put("isom".getBytes(UTF_8)).putInt(0x200).put("isom".getBytes(UTF_8)).array())
    val unityMatrix: ByteBuffer => ByteBuffer = b =>
      b.putInt(0x00010000).putInt(0).putInt(0)
        .putInt(0).putInt(0x00010000).putInt(0)
        .putInt(0).putInt(0).putInt(0x40000000)
    val mvhd = {
      val b = ByteBuffer.allocate(100).order(ByteOrder.BIG_ENDIAN)
      b.putInt(0)                 // version 0 + flags
        .putInt(0).putInt(0)      // creation / modification time
        .putInt(Mp4Timescale)
        .putInt(nFrames)          // duration in ticks (= frames)
        .putInt(0x00010000)       // rate 1.0
        .putShort(0x0100.toShort) // volume 1.0
      b.position(b.position() + 10) // reserved
      unityMatrix(b)
      b.position(b.position() + 24) // pre_defined
      b.putInt(2)                 // next_track_ID
      mp4Box("mvhd", b.array())
    }
    val tkhd = {
      val b = ByteBuffer.allocate(84).order(ByteOrder.BIG_ENDIAN)
      b.putInt(0x000007)          // version 0, flags: enabled | in-movie | in-preview
        .putInt(0).putInt(0)      // creation / modification time
        .putInt(1)                // track_ID
        .putInt(0)                // reserved
        .putInt(nFrames)          // duration (movie-timescale ticks)
      b.position(b.position() + 8) // reserved
      b.putShort(0).putShort(0)   // layer, alternate_group
        .putShort(0).putShort(0)  // volume (0 for video), reserved
      unityMatrix(b)
      b.putInt(width << 16)       // 16.16 fixed point
        .putInt(height << 16)
      mp4Box("tkhd", b.array())
    }
    val mdhd = {
      val b = ByteBuffer.allocate(24).order(ByteOrder.BIG_ENDIAN)
      b.putInt(0)                 // version 0 + flags
        .putInt(0).putInt(0)      // creation / modification time
        .putInt(Mp4Timescale)     // media timescale (track's own clock)
        .putInt(nFrames)          // media duration in ticks (= frames)
        .putShort(0x55c4.toShort) // language: 'und' packed ISO-639-2
        .putShort(0)              // pre_defined
      mp4Box("mdhd", b.array())
    }
    val hdlr = {
      val b = ByteBuffer.allocate(25).order(ByteOrder.BIG_ENDIAN)
      b.putInt(0)                 // version 0 + flags
        .putInt(0)                // pre_defined
        .put("vide".getBytes(UTF_8))
        .putInt(0).putInt(0).putInt(0) // reserved
        .put(0.toByte)            // empty null-terminated name
      mp4Box("hdlr", b.array())
    }
    val trak = mp4Box("trak", tkhd ++ mp4Box("mdia", mdhd ++ hdlr))
    ftyp ++ mp4Box("moov", mvhd ++ trak) ++ mp4Box("mdat", body)
  }

  /** Box-list walk over `[start, end)`: (type, payload offset, payload
    * length) per box, None on any malformed size (undersized, or
    * overrunning the range) — a truncated stream rejects as a whole. */
  private def walkBoxes(bytes: Array[Byte], start: Int, end: Int): Option[Seq[(String, Int, Int)]] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val out = Seq.newBuilder[(String, Int, Int)]
    var off = start
    while (off + 8 <= end) {
      val size = buf.getInt(off)
      if (size < 8 || off + size > end) return None
      out += ((new String(bytes, off + 4, 4, UTF_8), off + 8, size - 8))
      off += size
    }
    if (off == end) Some(out.result()) else None
  }

  /** Parse (width, height, nFrames, handler) from an mp4's headers —
    * the full video-track chain: the stream must lead with `ftyp`;
    * dims come from the first trak's tkhd (16.16 → integer part), the
    * frame count from the track's OWN `mdia`/`mdhd` duration (media
    * timescale ticks; the builder's timescale-=-frame-rate convention),
    * and the handler type (`vide`) from the `hdlr` box. None on
    * anything that isn't a version-0 ISO-BMFF stream with a complete
    * track subtree. */
  def mp4Meta(bytes: Array[Byte]): Option[(Int, Int, Int, String)] =
    for {
      top <- walkBoxes(bytes, 0, bytes.length)
      if top.headOption.exists(_._1 == "ftyp")
      moov <- top.find(_._1 == "moov")
      kids <- walkBoxes(bytes, moov._2, moov._2 + moov._3)
      mvhd <- kids.find(_._1 == "mvhd")
      trak <- kids.find(_._1 == "trak")
      tkids <- walkBoxes(bytes, trak._2, trak._2 + trak._3)
      tkhd <- tkids.find(_._1 == "tkhd")
      mdia <- tkids.find(_._1 == "mdia")
      mkids <- walkBoxes(bytes, mdia._2, mdia._2 + mdia._3)
      mdhd <- mkids.find(_._1 == "mdhd")
      hdlr <- mkids.find(_._1 == "hdlr")
      meta <- {
        val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
        if (mvhd._3 < 100 || tkhd._3 < 84 || mdhd._3 < 24 || hdlr._3 < 12) None
        else if (buf.get(mvhd._2) != 0 || buf.get(tkhd._2) != 0 ||
          buf.get(mdhd._2) != 0) None // version 0 only
        else {
          val timescale = buf.getInt(mdhd._2 + 12) // media clock, not movie
          val duration = buf.getInt(mdhd._2 + 16)
          val w = buf.getInt(tkhd._2 + 76) >>> 16
          val h = buf.getInt(tkhd._2 + 80) >>> 16
          val handler = new String(bytes, hdlr._2 + 8, 4, UTF_8)
          if (timescale <= 0 || duration < 0 || w <= 0 || h <= 0) None
          else Some((w, h, duration, handler))
        }
      }
    } yield meta

  // ---- corpus wrapping + decode --------------------------------------

  private def mimeOf(docId: Long): String =
    if (docId % 3 == 0) "image/png" else if (docId % 3 == 1) "audio/wav" else "video/mp4"

  /** Deterministic per-doc media parameters, so specs can assert the
    * parsed features against closed forms. */
  private[graft] def expectedPngDims(docId: Long): (Int, Int) =
    (16 + (docId % 500).toInt, 16 + (docId % 300).toInt)
  private[graft] def expectedWavRate(docId: Long): Int =
    Seq(8000, 16000, 44100)((docId / 3 % 3).toInt)
  private[graft] def expectedWavChannels(docId: Long): Int =
    1 + (docId % 2).toInt
  private[graft] def expectedMp4Dims(docId: Long): (Int, Int) =
    (320 + (docId % 320).toInt, 180 + (docId % 180).toInt)
  private[graft] def expectedMp4Frames(docId: Long): Int =
    24 + (docId % 240).toInt

  /** Wrap documents as media rows: image docs get a real PNG stream
    * (text bytes as the IDAT body), audio docs a real WAV container
    * (text bytes as PCM data), video docs a real mp4 box tree (text
    * bytes as the mdat body); metadata as a typed map. */
  def toMedia(documents: DataFrame)(implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    documents.select("doc_id", "text", "source", "lang").as[DocRow].map { r =>
      val body = r.text.getBytes(UTF_8)
      val payload = mimeOf(r.doc_id) match {
        case "image/png" =>
          val (w, h) = expectedPngDims(r.doc_id)
          buildPng(w, h, body)
        case "audio/wav" =>
          buildWav(expectedWavRate(r.doc_id), expectedWavChannels(r.doc_id), body)
        case _ =>
          val (w, h) = expectedMp4Dims(r.doc_id)
          buildMp4(w, h, expectedMp4Frames(r.doc_id), body)
      }
      MediaRow(r.doc_id, payload, mimeOf(r.doc_id),
        Map("source" -> r.source, "lang" -> r.lang))
    }
  }

  /** STUB features — deterministic fallback for malformed payloads only
    * (all three modalities have real header codecs), derived from the
    * payload bytes so tests have stable expectations. */
  private def stubFeatures(row: MediaRow, checksum: Long): MediaFeatures = {
    val dim = (checksum % 1024).toInt + 1
    MediaFeatures(
      doc_id = row.doc_id,
      mime = row.mime,
      n_bytes = row.payload.length,
      checksum = checksum,
      width = if (row.mime.startsWith("image") || row.mime.startsWith("video")) dim else 0,
      height = if (row.mime.startsWith("image") || row.mime.startsWith("video")) dim / 2 + 1 else 0,
      sample_rate = 0,
      n_frames = if (row.mime.startsWith("video")) (checksum % 240).toInt + 1
                 else if (row.mime.startsWith("audio")) (checksum % 48000).toInt + 1
                 else 1,
      handler = "")
  }

  /** Total per-row decode: real header parse for PNG/WAV/mp4, stub for
    * payloads that fail to parse. */
  def decode(row: MediaRow): MediaFeatures = {
    val bytes = row.payload
    val checksum = bytes.foldLeft(0L)((h, b) => (h * 31 + (b & 0xff)) % 1000000007L)
    val parsed = row.mime match {
      case "image/png" =>
        pngDims(bytes).map { case (w, h) =>
          stubFeatures(row, checksum).copy(width = w, height = h, n_frames = 1)
        }
      case "audio/wav" =>
        wavFmt(bytes).map { case (rate, _, frames) =>
          stubFeatures(row, checksum).copy(
            width = 0, height = 0, sample_rate = rate, n_frames = frames)
        }
      case "video/mp4" =>
        mp4Meta(bytes).map { case (w, h, frames, handler) =>
          stubFeatures(row, checksum).copy(
            width = w, height = h, sample_rate = 0, n_frames = frames,
            handler = handler)
        }
      case _ => None
    }
    parsed.getOrElse(stubFeatures(row, checksum))
  }

  /** Distributed decode: batched mapPartitions over the typed dataset —
    * the execution shape of a vectorized decode UDF (per-partition
    * iterator, fixed-size record batches, no driver involvement). */
  def decodeFeatures(media: Dataset[MediaRow])(implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(DecodeBatchSize).flatMap { batch => batch.map(decode) }
    }
  }

  /** Oracle-checkable slice of the plumbing: payload byte length, md5
    * digest and modality tag survive the binary round-trip identically
    * in both engines (md5 of the utf-8 bytes). */
  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_multimodal_meta",
      (s, d) => Tables.documents(s, d).selectExpr(
        "doc_id",
        "octet_length(CAST(text AS BINARY)) AS n_bytes",
        "md5(CAST(text AS BINARY)) AS digest",
        "CASE WHEN doc_id % 3 = 0 THEN 'image/png' " +
          "WHEN doc_id % 3 = 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
             |  md5(text) AS digest,
             |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
             |       WHEN doc_id % 3 = 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // JPEG marker-walk codec — the 4th modality, additive beside the
    // %3 mime split (PNG/WAV/mp4 keep their closed forms): build a
    // JFIF stream per doc with planted dims + baseline/progressive
    // SOF, parse it back by walking the marker segments, oracle the
    // closed forms. Same contract as the other codecs: every parsed
    // field has a (doc_id, byte-length) closed form, so a parser that
    // misreads any marker length or dimension field hash-mismatches.
    QueryDef(
      "q_media_jpeg",
      (s, d) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        Tables.documents(s, d).select("doc_id", "text").as[(Long, String)]
          .map { case (id, text) =>
            val (w, h) = expectedJpegDims(id)
            val bytes = buildJpeg(w, h, id % 2 == 1, text.getBytes(UTF_8))
            val meta = jpegMeta(bytes)
            (id, bytes.length, meta.map(_._1).getOrElse(-1),
              meta.map(_._2).getOrElse(-1), meta.exists(_._3))
          }
          .toDF("doc_id", "n_bytes", "width", "height", "progressive")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(45 + octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
             |  CAST(32 + doc_id % 480 AS INT) AS width,
             |  CAST(32 + doc_id % 270 AS INT) AS height,
             |  doc_id % 2 = 1 AS progressive
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // The decoded-feature frame itself (typed mapPartitions path). The
    // decode runs the REAL codecs — build container, parse header — but
    // every parsed feature has a closed form in (doc_id, text byte
    // length): container overheads are fixed (PNG 57 B, WAV 44 B + frame
    // truncation, mp4 317 B), dims/rates/frame-counts/handler are the
    // builder parameters. The oracle recomputes those closed forms in
    // SQL, so a parser that misread any header field hash-mismatches. The payload
    // checksum (not SQL-expressible — DuckDB never sees the container
    // bytes) stays spec-pinned in MultimodalSpec instead.
    QueryDef(
      "q_media_decode",
      (s, d) => {
        implicit val sp: SparkSession = s
        decodeFeatures(toMedia(Tables.documents(s, d))).toDF()
          .select("doc_id", "mime", "n_bytes", "width", "height", "sample_rate",
            "n_frames", "handler")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE doc_id % 3 WHEN 0 THEN 'image/png'
             |       WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
             |  CAST(CASE doc_id % 3
             |       WHEN 0 THEN 57 + len
             |       WHEN 1 THEN 44 + GREATEST(ba, (len // ba) * ba)
             |       ELSE 317 + len END AS INT) AS n_bytes,
             |  CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 500
             |       WHEN 1 THEN 0 ELSE 320 + doc_id % 320 END AS INT) AS width,
             |  CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 300
             |       WHEN 1 THEN 0 ELSE 180 + doc_id % 180 END AS INT) AS height,
             |  CAST(CASE doc_id % 3 WHEN 1 THEN
             |         CASE (doc_id // 3) % 3 WHEN 0 THEN 8000
             |              WHEN 1 THEN 16000 ELSE 44100 END
             |       ELSE 0 END AS INT) AS sample_rate,
             |  CAST(CASE doc_id % 3
             |       WHEN 0 THEN 1
             |       WHEN 1 THEN GREATEST(ba, (len // ba) * ba) // ba
             |       ELSE 24 + doc_id % 240 END AS INT) AS n_frames,
             |  CASE WHEN doc_id % 3 = 2 THEN 'vide' ELSE '' END AS handler
             |FROM (SELECT doc_id,
             |        octet_length(CAST(text AS BLOB)) AS len,
             |        2 * (1 + doc_id % 2) AS ba
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin),
      headline = false),

    // binaryFile ingestion — the layout multimodal corpora actually
    // arrive in: one opaque file per asset in an object store, not
    // blobs pre-packed in parquet. Export side: a bounded slice of
    // media payloads written one-file-per-row from the executors
    // (foreachPartition — the distributed object-store PUT shape).
    // Ingest side: `spark.read.format("binaryFile")` (path, length,
    // content), the asset id recovered from the file name with
    // regexp_extract, and the SAME header codecs q_media_decode runs
    // applied to the read-back bytes — so the oracle is q_media_decode's
    // closed-form twin restricted to the slice, and any corruption in
    // the file round-trip (truncation, path-id mismatch, content
    // mangling) breaks the hash. The slice is doc_id < 200 at every SF:
    // the file-per-row pattern is for ASSETS (bounded count, large
    // payloads), not for 100 TB of rows — that contract keeps the
    // export bounded while exercising the full read path.
    QueryDef(
      "q_scan_binaryfile",
      (s, d) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val dir = graft.TmpSlices.dir("graft_binfiles", graft.TmpSlices.key(d))
        val base = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(base)
        // driver-side idempotence: drop stale files before the export
        val st = java.nio.file.Files.list(base)
        try st.forEach(p => java.nio.file.Files.delete(p)) finally st.close()
        toMedia(Tables.documents(s, d).filter(org.apache.spark.sql.functions.col("doc_id") < 200))
          .foreachPartition { (it: Iterator[MediaRow]) =>
            it.foreach { m =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(dir, s"${m.doc_id}.bin"), m.payload)
            }
          }
        val media = s.read.format("binaryFile").load(dir)
          .selectExpr(
            """CAST(regexp_extract(path, '([0-9]+)\\.bin$', 1) AS BIGINT) AS doc_id""",
            "content")
          .as[(Long, Array[Byte])]
          .map { case (id, bytes) => MediaRow(id, bytes, mimeOf(id), Map.empty) }
        decodeFeatures(media).toDF()
          .select("doc_id", "mime", "n_bytes", "width", "height", "sample_rate",
            "n_frames", "handler")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE doc_id % 3 WHEN 0 THEN 'image/png'
             |       WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
             |  CAST(CASE doc_id % 3
             |       WHEN 0 THEN 57 + len
             |       WHEN 1 THEN 44 + GREATEST(ba, (len // ba) * ba)
             |       ELSE 317 + len END AS INT) AS n_bytes,
             |  CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 500
             |       WHEN 1 THEN 0 ELSE 320 + doc_id % 320 END AS INT) AS width,
             |  CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 300
             |       WHEN 1 THEN 0 ELSE 180 + doc_id % 180 END AS INT) AS height,
             |  CAST(CASE doc_id % 3 WHEN 1 THEN
             |         CASE (doc_id // 3) % 3 WHEN 0 THEN 8000
             |              WHEN 1 THEN 16000 ELSE 44100 END
             |       ELSE 0 END AS INT) AS sample_rate,
             |  CAST(CASE doc_id % 3
             |       WHEN 0 THEN 1
             |       WHEN 1 THEN GREATEST(ba, (len // ba) * ba) // ba
             |       ELSE 24 + doc_id % 240 END AS INT) AS n_frames,
             |  CASE WHEN doc_id % 3 = 2 THEN 'vide' ELSE '' END AS handler
             |FROM (SELECT doc_id,
             |        octet_length(CAST(text AS BLOB)) AS len,
             |        2 * (1 + doc_id % 2) AS ba
             |      FROM documents)
             |WHERE doc_id < 200
             |ORDER BY doc_id""".stripMargin),
      headline = false),

    // Feature extraction INSIDE the binary payload — one step past the
    // header codecs: decode the PCM body of every audio asset and
    // compute framed signal features (64-sample frame energy, peak
    // frame, totals) in the same batched mapPartitions shape a
    // vectorized decode UDF runs at scale. The truth bridge is the
    // builder's contract (PCM body = the doc's utf-8 bytes truncated to
    // whole frames), so DuckDB reproduces every feature from the TEXT
    // side with pure arithmetic — a parser that misreads the chunk
    // walk, sample width, or endianness hash-mismatches. Energies are
    // exact BIGINT sums of sample² — no float anywhere.
    QueryDef(
      "q_media_audio_energy",
      (s, d) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        toMedia(Tables.documents(s, d))
          .filter((r: MediaRow) => r.mime == "audio/wav")
          .map { r =>
            val sm = wavSamples(r.payload).getOrElse(Array.empty[Int])
            val nFrames = sm.length / 64
            val energies = Array.tabulate(nFrames) { f =>
              var e = 0L
              var i = 64 * f
              while (i < 64 * (f + 1)) { e += sm(i).toLong * sm(i); i += 1 }
              e
            }
            val peak = if (nFrames == 0) 0L else energies.max
            val idx = if (nFrames == 0) 0 else energies.indexOf(peak) + 1
            (r.doc_id, sm.length, nFrames, energies.sum, peak, idx)
          }
          .toDF("doc_id", "n_samples", "n_frames", "total_energy",
            "peak_frame_energy", "peak_frame_idx")
          .filter(org.apache.spark.sql.functions.col("n_frames") >= 1)
          .orderBy("doc_id")
      },
      Some("""WITH a AS (
             |  SELECT doc_id, text, 2 * (1 + doc_id % 2) AS ba
             |  FROM documents WHERE doc_id % 3 = 1),
             |s AS (
             |  SELECT doc_id,
             |    list_transform(
             |      range(1, (octet_length(CAST(text AS BLOB)) // ba * ba) // 2 + 1),
             |      i -> CAST(ascii(substr(text, CAST(2*i-1 AS INT), 1))
             |           + 256 * ascii(substr(text, CAST(2*i AS INT), 1)) AS BIGINT)) AS sm
             |  FROM a),
             |f AS (
             |  SELECT doc_id, len(sm) AS n_samples, len(sm) // 64 AS n_frames,
             |    list_transform(range(1, len(sm) // 64 + 1),
             |      fr -> list_sum(list_transform(
             |        sm[CAST((fr-1)*64+1 AS INT):CAST(fr*64 AS INT)], x -> x*x))) AS en
             |  FROM s)
             |SELECT doc_id, CAST(n_samples AS INT) AS n_samples,
             |  CAST(n_frames AS INT) AS n_frames,
             |  CAST(list_sum(en) AS BIGINT) AS total_energy,
             |  CAST(list_max(en) AS BIGINT) AS peak_frame_energy,
             |  CAST(list_position(en, list_max(en)) AS INT) AS peak_frame_idx
             |FROM f WHERE n_frames >= 1 ORDER BY doc_id""".stripMargin))
  )
}
