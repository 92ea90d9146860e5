package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, decoded/feature-extracted per partition.
  *
  * The Spark-side shape is real and tested — schema, partition-batched
  * iteration (the Scala analogue of `mapInPandas` batches: one decoder
  * instance per partition, amortized across rows), typed Encoders — while
  * the decode step itself is a STUB: this container has no image/audio
  * codecs, so `StubDecoder` stands in for libjpeg/ffmpeg with a
  * deterministic pure function of the bytes. Swapping in a real codec
  * changes only the body of `StubDecoder.decode`.
  */
object Multimodal {

  /** Envelope of an opaque media payload. */
  final case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte])

  /** Typed metadata produced by the (stub) decoder. */
  final case class MediaMeta(
      doc_id: Long, kind: String, n_bytes: Long,
      width: Int, height: Int, n_frames: Int, sample_rate: Int)

  /** Minimal-but-REAL JPEG container handling, pure JVM byte scanning (no
    * codec library): [[wrap]] builds SOI + a well-formed SOF0 segment
    * carrying the dimensions + the raw bytes as stand-in entropy data +
    * EOI; [[sofDims]] walks the marker segments and reads height/width
    * from the first SOF0/1/2 — i.e. the image branch of the decoder
    * parses an actual container header rather than inventing metadata.
    */
  object Jpeg {
    /** SOI(2) + SOF0 segment(19) + EOI(2). */
    val Overhead = 23

    /** Deterministic dims embedded at synthesis time (same formulas the
      * pre-JPEG stub derived from length, so oracles stay closed-form).
      */
    def dimsFor(n: Int): (Int, Int) = (64 + n % 512, 64 + n % 384)

    def wrap(data: Array[Byte]): Array[Byte] = {
      val n = data.length
      val (w, h) = dimsFor(n)
      val out = new Array[Byte](n + Overhead)
      out(0) = 0xFF.toByte; out(1) = 0xD8.toByte // SOI
      val sof = Array( // SOF0: len 0x11, 8-bit precision, h, w, 3 comps
        0xFF, 0xC0, 0x00, 0x11, 0x08, h >> 8, h & 0xff, w >> 8, w & 0xff,
        0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
        .map(_.toByte)
      System.arraycopy(sof, 0, out, 2, sof.length)
      System.arraycopy(data, 0, out, 2 + sof.length, n)
      out(out.length - 2) = 0xFF.toByte; out(out.length - 1) = 0xD9.toByte
      out
    }

    /** (width, height) from the first SOF0/1/2 segment; None when the
      * bytes aren't a parseable JPEG (malformed → caller falls back).
      */
    def sofDims(b: Array[Byte]): Option[(Int, Int)] = {
      if (b.length < 4 || (b(0) & 0xff) != 0xFF || (b(1) & 0xff) != 0xD8)
        return None
      var i = 2
      while (i + 3 < b.length && (b(i) & 0xff) == 0xFF) {
        val marker = b(i + 1) & 0xff
        if (marker == 0xC0 || marker == 0xC1 || marker == 0xC2) {
          if (i + 8 >= b.length) return None
          val h = ((b(i + 5) & 0xff) << 8) | (b(i + 6) & 0xff)
          val w = ((b(i + 7) & 0xff) << 8) | (b(i + 8) & 0xff)
          return Some((w, h))
        }
        if (marker == 0xDA || marker == 0xD9) return None // scan/EOI: no SOF
        if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD8)) i += 2
        else {
          val len = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
          if (len < 2) return None
          i += 2 + len
        }
      }
      None
    }
  }

  /** Minimal-but-REAL RIFF/WAVE container handling, pure JVM byte
    * scanning: [[wrap]] builds RIFF + a canonical 16-byte PCM fmt chunk
    * (mono 16-bit, sample_rate embedded) + the raw bytes as the data
    * chunk; [[rate]] walks the chunks and reads sample_rate from fmt.
    */
  object Wav {
    /** RIFF(12) + fmt chunk(24) + data header(8). */
    val Overhead = 44

    private def u32le(out: Array[Byte], off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte; out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    private def tag(out: Array[Byte], off: Int, s: String): Unit =
      s.getBytes.copyToArray(out, off)

    def wrap(data: Array[Byte], sampleRate: Int): Array[Byte] = {
      val out = new Array[Byte](data.length + Overhead)
      tag(out, 0, "RIFF"); u32le(out, 4, 36 + data.length); tag(out, 8, "WAVE")
      tag(out, 12, "fmt "); u32le(out, 16, 16)
      out(20) = 1; out(21) = 0 // PCM
      out(22) = 1; out(23) = 0 // mono
      u32le(out, 24, sampleRate)
      u32le(out, 28, sampleRate * 2) // byte rate (mono 16-bit)
      out(32) = 2; out(33) = 0 // block align
      out(34) = 16; out(35) = 0 // bits/sample
      tag(out, 36, "data"); u32le(out, 40, data.length)
      System.arraycopy(data, 0, out, 44, data.length)
      out
    }

    private def readU32le(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

    private def hasTag(b: Array[Byte], off: Int, s: String): Boolean =
      s.getBytes.zipWithIndex.forall { case (c, i) => b(off + i) == c }

    /** sample_rate from the fmt chunk; None when not a parseable WAVE. */
    def rate(b: Array[Byte]): Option[Int] = {
      if (b.length < 12 || !hasTag(b, 0, "RIFF") || !hasTag(b, 8, "WAVE"))
        return None
      var i = 12
      while (i + 8 <= b.length) {
        val size = readU32le(b, i + 4)
        if (hasTag(b, i, "fmt ")) {
          if (i + 16 > b.length) return None
          return Some(readU32le(b, i + 12).toInt)
        }
        if (size < 0 || size > Int.MaxValue - 8) return None
        i += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
      }
      None
    }
  }

  /** Minimal-but-REAL ISO BMFF (MP4/MOV) container handling, pure JVM
    * byte scanning: [[wrap]] builds `ftyp` + `moov`(`mvhd` with
    * timescale/duration + `trak`/`tkhd` with 16.16 fixed-point
    * width/height) + `mdat` carrying the raw bytes; [[meta]] walks the box
    * tree (size-prefixed big-endian boxes) back to those fields — the
    * same byte-level discipline as [[Jpeg.sofDims]] / [[Wav.rate]].
    * 64-bit (`size==1`) and to-end-of-file (`size==0`) boxes are treated
    * as malformed: the synthesizer never emits them and the decode policy
    * is warn-don't-throw fallback anyway.
    */
  object Mp4 {
    /** Video "frame rate" and mvhd timescale: duration is written in
      * frame ticks at timescale==fps, so n_frames = duration·fps/timescale
      * = duration.
      */
    val Fps = 25

    /** ftyp(16) + moov hdr(8) + mvhd(108) + trak hdr(8) + tkhd(92) +
      * mdat hdr(8).
      */
    val Overhead = 240

    private def u32be(out: Array[Byte], off: Int, v: Int): Unit = {
      out(off) = ((v >> 24) & 0xff).toByte; out(off + 1) = ((v >> 16) & 0xff).toByte
      out(off + 2) = ((v >> 8) & 0xff).toByte; out(off + 3) = (v & 0xff).toByte
    }
    private def tag(out: Array[Byte], off: Int, s: String): Unit =
      s.getBytes.copyToArray(out, off)
    private def readU32be(b: Array[Byte], off: Int): Long =
      ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
        ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
    private def hasType(b: Array[Byte], off: Int, s: String): Boolean =
      s.getBytes.zipWithIndex.forall { case (c, i) => b(off + i) == c }

    def wrap(data: Array[Byte], w: Int, h: Int, frames: Int): Array[Byte] = {
      val out = new Array[Byte](data.length + Overhead)
      // ftyp: isom major brand, minor version 512
      u32be(out, 0, 16); tag(out, 4, "ftyp"); tag(out, 8, "isom"); u32be(out, 12, 512)
      // moov container = mvhd + trak
      u32be(out, 16, 8 + 108 + 8 + 92); tag(out, 20, "moov")
      // mvhd v0: creation/modification 0, timescale=Fps, duration=frames,
      // rate 1.0 (16.16), volume 1.0 (8.8), next_track_ID 2
      val mv = 24
      u32be(out, mv, 108); tag(out, mv + 4, "mvhd")
      u32be(out, mv + 20, Fps); u32be(out, mv + 24, frames)
      u32be(out, mv + 28, 0x00010000); out(mv + 32) = 0x01
      u32be(out, mv + 104, 2)
      // trak container = tkhd
      val tk = mv + 108
      u32be(out, tk, 8 + 92); tag(out, tk + 4, "trak")
      // tkhd v0 (flags: enabled|in-movie): track_ID 1, duration=frames,
      // identity matrix, width/height in 16.16 fixed point
      val th = tk + 8
      u32be(out, th, 92); tag(out, th + 4, "tkhd")
      u32be(out, th + 8, 0x00000003)
      u32be(out, th + 20, 1); u32be(out, th + 28, frames)
      u32be(out, th + 48, 0x00010000); u32be(out, th + 64, 0x00010000)
      u32be(out, th + 80, 0x40000000) // matrix diag 1,1,16384(2.30)
      u32be(out, th + 84, w << 16); u32be(out, th + 88, h << 16)
      // mdat with the raw bytes as stand-in sample data
      val md = th + 92
      u32be(out, md, 8 + data.length); tag(out, md + 4, "mdat")
      System.arraycopy(data, 0, out, md + 8, data.length)
      out
    }

    /** First box of `typ` in [start, end): payload bounds (after the
      * 8-byte header). None on malformed sizes.
      */
    private def findBox(b: Array[Byte], start: Int, end: Int,
        typ: String): Option[(Int, Int)] = {
      var i = start
      while (i + 8 <= end) {
        val size = readU32be(b, i)
        if (size < 8 || i + size > end) return None
        if (hasType(b, i + 4, typ)) return Some((i + 8, i + size.toInt))
        i += size.toInt
      }
      None
    }

    /** (width, height, n_frames) from moov/mvhd + moov/trak/tkhd; None
      * when the bytes aren't a parseable version-0 MP4 (malformed →
      * caller falls back).
      */
    def meta(b: Array[Byte]): Option[(Int, Int, Int)] =
      for {
        (ms, me) <- findBox(b, 0, b.length, "moov")
        (hs, he) <- findBox(b, ms, me, "mvhd")
        if he - hs >= 100 && b(hs) == 0 // version-0 layout only
        (ts, te) <- findBox(b, ms, me, "trak")
        (ks, ke) <- findBox(b, ts, te, "tkhd")
        if ke - ks >= 84 && b(ks) == 0
      } yield {
        val timescale = readU32be(b, hs + 12)
        val duration = readU32be(b, hs + 16)
        val frames =
          if (timescale == 0) 0 else (duration * Fps / timescale).toInt
        val w = (readU32be(b, ks + 76) >> 16).toInt
        val h = (readU32be(b, ks + 80) >> 16).toInt
        (w, h, frames)
      }
  }

  /** The media decoder: every branch REALLY parses its container header —
    * JPEG SOF ([[Jpeg.sofDims]]), RIFF/WAVE fmt ([[Wav.rate]]), MP4
    * moov/mvhd/tkhd ([[Mp4.meta]]) — with a deterministic length-formula
    * fallback for unparseable bytes (the warn-don't-throw decode policy).
    * What stays stubbed is pixel/sample decode itself: the payloads carry
    * text bytes, not entropy-coded streams, and this container ships no
    * codec libraries. One instance per partition (see decodeMeta) — real
    * codecs are expensive to construct, so the per-partition lifecycle is
    * the part worth getting right now.
    */
  final class StubDecoder {
    def decode(row: MediaRow): MediaMeta = {
      val n = row.payload.length.toLong
      row.kind match {
        case "image" =>
          val (w, h) = Jpeg.sofDims(row.payload)
            .getOrElse(((64 + n % 512).toInt, (64 + n % 384).toInt))
          MediaMeta(row.doc_id, row.kind, n,
            width = w, height = h, n_frames = 1, sample_rate = 0)
        case "audio" =>
          val sr = Wav.rate(row.payload).getOrElse(16000)
          // data-chunk seconds at the parsed rate (mono 16-bit), so
          // n_frames derives from the REAL header too; non-WAVE bytes
          // fall back to the length formula
          val frames = Wav.rate(row.payload) match {
            case Some(_) => ((n - Wav.Overhead) / 100L).toInt + 1
            case None => (n / 100L).toInt + 1
          }
          MediaMeta(row.doc_id, row.kind, n,
            width = 0, height = 0, n_frames = frames, sample_rate = sr)
        case _ =>
          val (w, h, frames) = Mp4.meta(row.payload)
            .getOrElse(((64 + n % 512).toInt, (64 + n % 384).toInt,
              (n / 50L).toInt + 1))
          MediaMeta(row.doc_id, row.kind, n,
            width = w, height = h, n_frames = frames, sample_rate = 0)
      }
    }
  }

  /** Synthesize the opaque media table deterministically from documents
    * (kind cycles by doc_id). Image payloads are REAL minimal JPEGs (the
    * utf-8 text bytes wrapped in SOI/SOF0/EOI, dims embedded in the
    * header); audio payloads are REAL minimal RIFF/WAVE files (fmt chunk
    * at 16 kHz, text bytes as the data chunk); video payloads are REAL
    * minimal MP4s (moov/mvhd/tkhd with dims + frame count embedded, text
    * bytes as the mdat). The embedded metadata uses the same closed-form
    * length formulas the pre-container stub derived, so oracles stay
    * expressible in SQL over octet_length(text).
    */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    s.read.parquet(s"$dir/documents.parquet").select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("kind"),
      encode(col("text"), "utf-8").as("payload")
    ).as[MediaRow]
      .map { r =>
        val n = r.payload.length
        r.kind match {
          case "image" => r.copy(payload = Jpeg.wrap(r.payload))
          case "audio" => r.copy(payload = Wav.wrap(r.payload, 16000))
          case _ => r.copy(payload = Mp4.wrap(r.payload,
            64 + n % 512, 64 + n % 384, n / 50 + 1))
        }
      }
  }

  /** Partition-batched decode: decoder constructed once per partition,
    * rows streamed through it lazily (never materializes the partition).
    */
  def decodeMeta(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val decoder = new StubDecoder // one per partition, like mapInPandas
      rows.map(decoder.decode)
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_meta" -> { (s, dir) =>
      decodeMeta(mediaTable(s, dir)).toDF()
        .select(col("doc_id"), col("kind"), col("n_bytes"),
          col("width"), col("height"), col("n_frames"), col("sample_rate"))
    },
    // frame-sample + resize plumbing: every ceil(n_frames/4)-th frame index
    // exploded to a row (<= 4 sampled frames per media item), with
    // letterbox-resize target dims (width -> 224, height scaled by integer
    // math). The decode is the same per-partition stub; the SAMPLING and
    // RESIZE arithmetic — the part that shapes shuffle volume at 100 TB —
    // is real, typed, and oracle-checked.
    "media_frames" -> { (s, dir) =>
      val meta = decodeMeta(mediaTable(s, dir)).toDF()
      // integer-only math throughout (floor-div), mirrored in the oracle
      val step = floor((col("n_frames") + 3) / 4).cast("int")
      meta
        .select(col("doc_id"), col("kind"), col("width"), col("height"),
          explode(sequence(lit(0), col("n_frames") - 1, step)).as("frame_idx"))
        .select(col("doc_id"), col("kind"), col("frame_idx"),
          when(col("width") > 0, lit(224)).otherwise(lit(0)).as("out_w"),
          when(col("width") > 0, floor(col("height") * 224 / col("width")))
            .otherwise(lit(0)).cast("int").as("out_h"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    // the decoder's outputs re-derived from octet_length in SQL: image
    // rows carry the 23-byte JPEG container (SOI+SOF0+EOI) whose embedded
    // dims use the same closed-form length formulas the oracle computes;
    // audio rows carry the 44-byte RIFF/WAVE container whose fmt chunk
    // embeds the 16 kHz rate the decoder parses back out; video rows
    // carry the 240-byte MP4 container whose mvhd/tkhd boxes embed the
    // frame count and dims
    "media_meta" ->
      """SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         CAST(octet_length(encode(text))
              + CASE WHEN doc_id % 3 = 0 THEN 23
                     WHEN doc_id % 3 = 1 THEN 44 ELSE 240 END AS BIGINT) AS n_bytes,
         CAST(CASE WHEN doc_id % 3 = 1 THEN 0
              ELSE 64 + octet_length(encode(text)) % 512 END AS INT) AS width,
         CAST(CASE WHEN doc_id % 3 = 1 THEN 0
              ELSE 64 + octet_length(encode(text)) % 384 END AS INT) AS height,
         CAST(CASE WHEN doc_id % 3 = 0 THEN 1
              WHEN doc_id % 3 = 1 THEN octet_length(encode(text)) // 100 + 1
              ELSE octet_length(encode(text)) // 50 + 1 END AS INT) AS n_frames,
         CAST(CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE 0 END AS INT) AS sample_rate
         FROM documents ORDER BY doc_id""",
    "media_frames" ->
      """WITH meta AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
             CASE WHEN doc_id % 3 = 1 THEN 0
                  ELSE 64 + octet_length(encode(text)) % 512 END AS width,
             CASE WHEN doc_id % 3 = 1 THEN 0
                  ELSE 64 + octet_length(encode(text)) % 384 END AS height,
             CASE WHEN doc_id % 3 = 0 THEN 1
                  WHEN doc_id % 3 = 1 THEN octet_length(encode(text)) // 100 + 1
                  ELSE octet_length(encode(text)) // 50 + 1 END AS n_frames
           FROM documents)
         SELECT doc_id, kind,
           CAST(unnest(range(0, n_frames, (n_frames + 3) // 4)) AS INT) AS frame_idx,
           CAST(CASE WHEN width > 0 THEN 224 ELSE 0 END AS INT) AS out_w,
           CAST(CASE WHEN width > 0 THEN (height * 224) // width ELSE 0 END AS INT) AS out_h
         FROM meta ORDER BY doc_id, frame_idx"""
  )
}
