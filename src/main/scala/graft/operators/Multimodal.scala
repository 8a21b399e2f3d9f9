package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Input to the decode stage: opaque binary payload + typed metadata. */
case class MediaRow(doc_id: Long, payload: Array[Byte], media_type: String)

/** Output of the decode stage. */
case class DecodedRow(doc_id: Long, media_type: String,
    width: Long, height: Long, n_frames: Long)

/** Injection seam for a real media codec (libjpeg/ffmpeg/...):
  * `open()` runs ONCE PER PARTITION on the executor — do the
  * expensive library/native init there and return the per-row decode
  * function. Implementations must be Serializable (the instance ships
  * in the task closure; the opened state does not).
  */
trait MediaCodec extends Serializable {
  def open(): MediaRow => DecodedRow
}

/** REAL image decode through the seam: `javax.imageio` is pure JDK.
  * Width/height come out of the actual PNG/JPEG bitstream
  * (`ImageIO.read`), not payload arithmetic. open() is the
  * once-per-partition init point: disable ImageIO's temp-file cache
  * (executors decode in memory, not on local disk).
  */
object ImageIoCodec extends MediaCodec {
  def open(): MediaRow => DecodedRow = {
    javax.imageio.ImageIO.setUseCache(false)
    m => {
      require(m.media_type == "image", s"ImageIoCodec got ${m.media_type}")
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(m.payload))
      require(img != null, s"undecodable image payload for doc ${m.doc_id}")
      DecodedRow(m.doc_id, m.media_type,
        img.getWidth.toLong, img.getHeight.toLong, 1L)
    }
  }
}

/** The full pure-JDK codec behind the seam — every media type decodes
  * from its REAL bitstream, no stub arm remains:
  *   - image: `javax.imageio` (PNG/JPEG) — width/height from the
  *     bitstream;
  *   - audio: `javax.sound.sampled` — width = sample rate, height =
  *     channel count, n_frames = PCM frame count, from the RIFF/WAVE
  *     header;
  *   - video: [[AviParse]] — width/height from the strf
  *     BITMAPINFOHEADER, n_frames counted from the idx1 index and
  *     cross-checked against the avih/strh headers of the actual
  *     RIFF/AVI container (the JDK has no video COMPRESSOR, but DIB
  *     frames are uncompressed — parsing the container IS the decode).
  */
object JdkMediaCodec extends MediaCodec {
  def open(): MediaRow => DecodedRow = {
    val image = ImageIoCodec.open()
    m =>
      m.media_type match {
        case "image" => image(m)
        case "audio" =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(m.payload))
          val fmt = ais.getFormat
          DecodedRow(m.doc_id, m.media_type,
            width = fmt.getSampleRate.toLong,
            height = fmt.getChannels.toLong,
            n_frames = ais.getFrameLength)
        case "video" =>
          val v = AviParse.meta(m.payload)
          DecodedRow(m.doc_id, m.media_type,
            width = v.width.toLong, height = v.height.toLong,
            n_frames = v.nFrames.toLong)
        case other => sys.error(s"no codec for media_type=$other (doc ${m.doc_id})")
      }
  }
}

/** Deterministic tiny WAVs — REAL RIFF/WAVE bytes (encoded by the
  * JDK's AudioSystem) standing in for an ingest's audio column.
  * Sample rate, channel count, frame count, and every 16-bit PCM
  * sample derive from doc_id alone, so the SQL oracle knows the
  * decode truth without itself decoding.
  */
object WavGen {
  def sampleRate(docId: Long): Int = 8000 + (docId % 5).toInt * 1000
  def channels(docId: Long): Int = 1 + (docId % 2).toInt
  def frames(docId: Long): Int = 200 + (docId % 300).toInt
  /** i-th interleaved 16-bit sample; mirrors the oracle's formula. */
  def sample(docId: Long, i: Int): Int =
    ((i.toLong * 31L + docId * 7L) % 65536L - 32768L).toInt

  def wav(docId: Long): Array[Byte] = {
    val (sr, ch, fr) = (sampleRate(docId), channels(docId), frames(docId))
    val pcm = new Array[Byte](fr * ch * 2) // 16-bit little-endian signed
    var i = 0
    while (i < fr * ch) {
      val v = sample(docId, i)
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, ch, true, false)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, fr.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }
}

/** Deterministic tiny PNGs — REAL image bytes (encoded by the JDK's
  * ImageIO) standing in for an ingest's image column. Dimensions and
  * pixel content derive from doc_id alone, so the SQL oracle knows the
  * decode truth without itself decoding: a hash match proves the codec
  * read the true dimensions out of the bitstream.
  */
object PngGen {
  def dims(docId: Long): (Int, Int) =
    (8 + (docId % 57).toInt, 8 + ((docId * 31L) % 41).toInt)

  def png(docId: Long): Array[Byte] = {
    val (w, h) = dims(docId)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, (x * 31 + y * 7 + (docId % 251).toInt * 13) & 0xffffff)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }
}

/** Deterministic tiny AVIs — REAL RIFF/AVI container bytes with
  * UNCOMPRESSED 24-bit DIB frames ('00db' chunks, biCompression=0,
  * bottom-up rows padded to 4 bytes — the classic DIB quirks), a full
  * hdrl header tree (avih + strl/strh/strf) and an idx1 frame index.
  * The JDK ships no video compressor, but none is needed: DIB-in-AVI
  * is a real, spec-complete video file (VfW's original format), and
  * parsing the container + raster IS the decode — the same honesty
  * bar as [[PngGen]]/[[WavGen]]. Dimensions, frame count, and every
  * pixel derive from doc_id alone, so the SQL oracle knows the decode
  * truth without itself parsing.
  */
object AviGen {
  def dims(docId: Long): (Int, Int) =
    (8 + ((docId * 13L) % 24L).toInt, 8 + ((docId * 7L) % 16L).toInt)
  def frames(docId: Long): Int = 2 + (docId % 10L).toInt
  /** RGB pixel of frame f at (x, y) — y = 0 is the TOP row (the
    * writer stores rows bottom-up, as positive-biHeight DIBs do). */
  def pixel(docId: Long, f: Int, x: Int, y: Int): Int =
    (x * 31 + y * 7 + f * 11 + (docId % 251L).toInt * 13) & 0xffffff

  def avi(docId: Long): Array[Byte] = {
    val (w, h) = dims(docId)
    val nf = frames(docId)
    val stride = ((w * 3 + 3) / 4) * 4
    val frameBytes = stride * h
    val out = new java.io.ByteArrayOutputStream()
    def u32(v: Long): Unit = { out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt) }
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def fcc(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    val hdrlSize = 4 + (8 + 56) + (12 + (8 + 56) + (8 + 40)) // 'hdrl'+avih+strl
    val moviSize = 4 + nf * (8 + frameBytes)
    val idxSize = 16 * nf
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize) + (8 + idxSize)
    fcc("RIFF"); u32(riffSize); fcc("AVI ")
    // --- hdrl: main header + one 'vids' stream (header + format)
    fcc("LIST"); u32(hdrlSize); fcc("hdrl")
    fcc("avih"); u32(56)
    u32(100000L); u32(frameBytes.toLong * 10); u32(0); u32(0x10) // µs/frame, Bps, pad, AVIF_HASINDEX
    u32(nf); u32(0); u32(1); u32(frameBytes.toLong + 8)          // totalFrames, initial, streams, bufSize
    u32(w); u32(h); u32(0); u32(0); u32(0); u32(0)               // dims + reserved[4]
    fcc("LIST"); u32(4 + (8 + 56) + (8 + 40)); fcc("strl") // 'strl' + strh + strf
    fcc("strh"); u32(56)
    fcc("vids"); fcc("DIB "); u32(0); u16(0); u16(0)             // type, handler, flags, prio, lang
    u32(0); u32(1); u32(10); u32(0); u32(nf)                     // initial, scale, rate, start, LENGTH
    u32(frameBytes.toLong); u32(0xffffffffL); u32(0)             // bufSize, quality, sampleSize
    u16(0); u16(0); u16(w); u16(h)                               // rcFrame
    fcc("strf"); u32(40)
    u32(40); u32(w); u32(h); u16(1); u16(24)                     // biSize..biBitCount (h>0 = bottom-up)
    u32(0); u32(frameBytes.toLong); u32(0); u32(0); u32(0); u32(0) // biCompression=0 (BI_RGB)..
    // --- movi: nf uncompressed '00db' frames, rows bottom-up + padded
    fcc("LIST"); u32(moviSize); fcc("movi")
    var f = 0
    while (f < nf) {
      fcc("00db"); u32(frameBytes)
      var r = 0
      while (r < h) {
        val y = h - 1 - r
        var x = 0
        while (x < w) {
          val v = pixel(docId, f, x, y)
          out.write(v & 0xff); out.write((v >> 8) & 0xff); out.write((v >> 16) & 0xff) // B,G,R
          x += 1
        }
        var pad = w * 3
        while (pad < stride) { out.write(0); pad += 1 }
        r += 1
      }
      f += 1
    }
    // --- idx1: one keyframe entry per chunk; offsets from the 'movi'
    //     fourcc (first chunk id sits 4 bytes past it)
    fcc("idx1"); u32(idxSize)
    f = 0
    while (f < nf) {
      fcc("00db"); u32(0x10); u32(4L + f.toLong * (8 + frameBytes)); u32(frameBytes)
      f += 1
    }
    out.toByteArray
  }
}

/** RIFF/AVI container parse — the video "decode" kernel behind
  * [[JdkMediaCodec]]: a real chunk walk (RIFF header, LIST hdrl →
  * avih + strl/strh/strf, LIST movi, idx1), validated for the
  * uncompressed-DIB layout, with per-frame raster access through the
  * idx1 offsets (bottom-up rows, 4-byte padding skipped). Frame count
  * is CROSS-CHECKED three ways — avih.dwTotalFrames, strh.dwLength,
  * and the idx1 entry count — so a malformed container fails loudly
  * instead of returning header fiction.
  */
object AviParse {
  final case class AviMeta(width: Int, height: Int, nFrames: Int,
      moviPos: Int, idxPos: Int)

  private def str(p: Array[Byte], off: Int, n: Int): String =
    new String(p, off, n, "US-ASCII")
  private def u32(p: Array[Byte], off: Int): Long =
    (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
      ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)
  private def u16(p: Array[Byte], off: Int): Int =
    (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)

  def meta(p: Array[Byte]): AviMeta = {
    require(p.length >= 12 && str(p, 0, 4) == "RIFF" && str(p, 8, 4) == "AVI ",
      "not a RIFF/AVI container")
    val end = math.min(p.length.toLong, 8L + u32(p, 4)).toInt
    var (w, h, avihFrames, strhFrames, idxFrames) = (-1, -1, -1L, -1L, -1L)
    var (bitCount, compression) = (-1, -1L)
    var (moviPos, idxPos) = (-1, -1)
    def walkHdrl(from: Int, to: Int): Unit = {
      var pos = from
      while (pos + 8 <= to) {
        val id = str(p, pos, 4); val sz = u32(p, pos + 4).toInt
        id match {
          case "avih" =>
            avihFrames = u32(p, pos + 8 + 16)
            w = u32(p, pos + 8 + 32).toInt; h = u32(p, pos + 8 + 36).toInt
          case "LIST" if str(p, pos + 8, 4) == "strl" =>
            walkHdrl(pos + 12, pos + 8 + sz)
          case "strh" =>
            require(str(p, pos + 8, 4) == "vids", "first stream must be video")
            strhFrames = u32(p, pos + 8 + 32)
          case "strf" =>
            bitCount = u16(p, pos + 8 + 14); compression = u32(p, pos + 8 + 16)
          case _ => ()
        }
        pos += 8 + sz + (sz & 1) // RIFF chunks pad to even
      }
    }
    var pos = 12
    while (pos + 8 <= end) {
      val id = str(p, pos, 4); val sz = u32(p, pos + 4).toInt
      id match {
        case "LIST" if str(p, pos + 8, 4) == "hdrl" => walkHdrl(pos + 12, pos + 8 + sz)
        case "LIST" if str(p, pos + 8, 4) == "movi" => moviPos = pos + 8
        case "idx1" => idxPos = pos + 8; idxFrames = sz / 16L
        case _ => ()
      }
      pos += 8 + sz + (sz & 1)
    }
    require(w > 0 && h > 0 && moviPos > 0 && idxPos > 0, "missing hdrl/movi/idx1")
    require(bitCount == 24 && compression == 0,
      s"expected uncompressed 24-bit DIB frames, got bitCount=$bitCount compression=$compression")
    require(avihFrames == strhFrames && strhFrames == idxFrames,
      s"frame count mismatch: avih=$avihFrames strh=$strhFrames idx1=$idxFrames")
    AviMeta(w, h, idxFrames.toInt, moviPos, idxPos)
  }

  /** Exact per-channel pixel sums of frame `f` — reads the '00db'
    * chunk the idx1 entry points at, walking bottom-up padded rows. */
  def frameChannelSums(p: Array[Byte], m: AviMeta, f: Int): (Long, Long, Long) = {
    require(f >= 0 && f < m.nFrames, s"frame $f out of ${m.nFrames}")
    val off = m.moviPos + u32(p, m.idxPos + 16 * f + 8).toInt
    require(str(p, off, 4) == "00db", s"idx1 entry $f points at ${str(p, off, 4)}")
    val stride = ((m.width * 3 + 3) / 4) * 4
    require(u32(p, off + 4) == stride.toLong * m.height, s"frame $f size mismatch")
    val base = off + 8
    var (sr, sg, sb) = (0L, 0L, 0L)
    var r = 0
    while (r < m.height) {
      var x = 0
      val row = base + r * stride
      while (x < m.width) {
        sb += p(row + 3 * x) & 0xff
        sg += p(row + 3 * x + 1) & 0xff
        sr += p(row + 3 * x + 2) & 0xff
        x += 1
      }
      r += 1
    }
    (sr, sg, sb)
  }

  /** 64-bit dHash of frame `f` — [[Multimodal.imageDHash]]'s 9×8
    * difference hash sampled from the TRUE DIB raster through the
    * idx1 offset (bottom-up rows: image row gy reads storage row
    * h−1−gy; gray = B+G+R byte sum, the same integer the PNG kernel
    * derives from the packed RGB). The per-frame unit of the
    * per-VIDEO near-dup signature (m12).
    */
  def frameDHash(p: Array[Byte], m: AviMeta, f: Int): (Long, Long) = {
    require(f >= 0 && f < m.nFrames, s"frame $f out of ${m.nFrames}")
    val off = m.moviPos + u32(p, m.idxPos + 16 * f + 8).toInt
    require(str(p, off, 4) == "00db", s"idx1 entry $f points at ${str(p, off, 4)}")
    val stride = ((m.width * 3 + 3) / 4) * 4
    require(u32(p, off + 4) == stride.toLong * m.height, s"frame $f size mismatch")
    val base = off + 8
    def gray(gx: Int, gy: Int): Int = {
      val at = base + (m.height - 1 - gy) * stride + 3 * gx
      (p(at) & 0xff) + (p(at + 1) & 0xff) + (p(at + 2) & 0xff)
    }
    var hi = 0L; var lo = 0L
    var y = 0
    while (y < 8) {
      val gy = y * m.height / 8
      var x = 0
      while (x < 8) {
        if (gray((x + 1) * m.width / 9, gy) > gray(x * m.width / 9, gy)) {
          val k = y * 8 + x
          if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        }
        x += 1
      }
      y += 1
    }
    (hi, lo)
  }

  /** Per-channel sum of absolute differences between frames `f1` and
    * `f2` — both rasters walked in lockstep through their idx1
    * offsets (same stride/padding rules as [[frameChannelSums]]); the
    * frame-delta signal scene-cut detection thresholds on. */
  def frameSad(p: Array[Byte], m: AviMeta, f1: Int, f2: Int): (Long, Long, Long) = {
    require(f1 >= 0 && f1 < m.nFrames && f2 >= 0 && f2 < m.nFrames,
      s"frames $f1,$f2 out of ${m.nFrames}")
    def frameBase(f: Int): Int = {
      val off = m.moviPos + u32(p, m.idxPos + 16 * f + 8).toInt
      require(str(p, off, 4) == "00db", s"idx1 entry $f points at ${str(p, off, 4)}")
      off + 8
    }
    val (b1, b2) = (frameBase(f1), frameBase(f2))
    val stride = ((m.width * 3 + 3) / 4) * 4
    var (dr, dg, db) = (0L, 0L, 0L)
    var r = 0
    while (r < m.height) {
      var x = 0
      val (r1, r2) = (b1 + r * stride, b2 + r * stride)
      while (x < m.width) {
        db += math.abs((p(r1 + 3 * x) & 0xff) - (p(r2 + 3 * x) & 0xff))
        dg += math.abs((p(r1 + 3 * x + 1) & 0xff) - (p(r2 + 3 * x + 1) & 0xff))
        dr += math.abs((p(r1 + 3 * x + 2) & 0xff) - (p(r2 + 3 * x + 2) & 0xff))
        x += 1
      }
      r += 1
    }
    (dr, dg, db)
  }
}

/** Multimodal column pipeline: media as opaque binary columns with
  * typed metadata, decoded per-partition through a typed Dataset.
  *
  * Image rows carry REAL PNG bytes ([[PngGen]]) decoded by ImageIO;
  * audio rows REAL WAV bytes ([[WavGen]]) decoded by javax.sound;
  * video rows REAL RIFF/AVI bytes ([[AviGen]]) parsed by [[AviParse]]
  * — every media type reads its true bitstream, no stub arm. The rest
  * is the real 100 TB plumbing: binary column, case-class Encoders,
  * mapPartitions batch iteration (one decoder init per partition, not
  * per row), zero shuffles end to end, and a columnar result that
  * downstream queries can aggregate.
  */
object Multimodal {
  type QFn = (SparkSession, String) => DataFrame

  /** The ingest stand-in: one MediaRow per document — image rows get
    * real PNG payloads, audio rows real WAV payloads, video rows real
    * RIFF/AVI payloads. A narrow typed map (media synthesis is
    * per-row imperative work, same shape a real ingest's
    * fetch/transcode stage has).
    */
  def mediaFrames(s: SparkSession, d: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.documents(s, d).select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("media_type"))
      // documents.parquet is ONE file: round-robin-spread the
      // 2-column projection (a cheap O(rows) shuffle of ~16 bytes/row)
      // BEFORE the CPU-bound synth/decode map stages so every m*
      // entry decodes with full parallelism instead of riding the
      // scan's few splits — the er01/simhashPairs single-scan-split
      // discipline (CLAUDE.md)
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, mt) =>
        MediaRow(id, mt match {
          case "image" => PngGen.png(id)
          case "audio" => WavGen.wav(id)
          case _       => AviGen.avi(id)
        }, mt)
      })
  }

  /** The decode pipeline as a reusable stage: binary payload + typed
    * metadata through case-class Encoders and mapPartitions.
    */
  def decoded(s: SparkSession, d: String,
      codec: MediaCodec = JdkMediaCodec): DataFrame =
    mediaFrames(s, d)
      .mapPartitions { it =>
        val decode = codec.open() // codec/library init, once per partition
        it.map(decode)
      }(org.apache.spark.sql.Encoders.product[DecodedRow])
      .toDF()

  /** Per-image channel statistics computed from the DECODED RASTER —
    * the feature-extraction stage of a multimodal pipeline, and the
    * proof the codec reads actual pixels (not just the header): exact
    * BIGINT channel sums over every pixel, which the oracle replays
    * from the generator's pixel formula. Integer sums, not float
    * means, so parity is exact at any image size. Zero shuffles; the
    * raster scan rides the same one-init-per-partition seam.
    */
  def imageStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaFrames(s, d)
      .filter(_.media_type == "image")
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { m =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(m.payload))
          require(img != null, s"undecodable image payload for doc ${m.doc_id}")
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val v = img.getRGB(x, y)
              sr += (v >> 16) & 0xff; sg += (v >> 8) & 0xff; sb += v & 0xff
              x += 1
            }
            y += 1
          }
          (m.doc_id, img.getWidth.toLong * img.getHeight, sr, sg, sb)
        }
      }
      .toDF("doc_id", "n_pixels", "sum_r", "sum_g", "sum_b")
  }

  /** Sample-level audio feature extraction: exact abs-sum over every
    * decoded 16-bit PCM sample — the audio analogue of [[imageStats]],
    * and the proof the codec reads actual samples out of the WAV data
    * chunk (little-endian reassembly included), not just the header.
    * The oracle replays [[WavGen]]'s sample formula per index.
    */
  def audioStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaFrames(s, d)
      .filter(_.media_type == "audio")
      .mapPartitions { it =>
        it.map { m =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(m.payload))
          val fmt = ais.getFormat
          val bytes = ais.readAllBytes()
          var (i, sumAbs) = (0, 0L)
          while (i + 1 < bytes.length) {
            val v = ((bytes(i) & 0xff) | (bytes(i + 1) << 8)).toShort.toLong
            sumAbs += math.abs(v)
            i += 2
          }
          (m.doc_id, fmt.getSampleRate.toLong, bytes.length.toLong / 2, sumAbs)
        }
      }
      .toDF("doc_id", "sample_rate", "n_samples", "sum_abs")
  }

  /** Image resize over the decode stage — the remaining multimodal
    * verb (decode / feature-extract / frame-sample / RESIZE): real
    * ImageIO decode, then an explicit nearest-neighbor 2× downsample
    * (out(x,y) = in(2x,2y), dims ⌈w/2⌉×⌈h/2⌉ — a pixel loop rather
    * than Graphics2D so the arithmetic is exact and the oracle can
    * replay the generator's pixel formula at the even coordinates).
    * Channel sums of the RESIZED raster prove the kernel sampled the
    * decoded pixels it claims. Same zero-shuffle partition-local seam
    * as [[imageStats]].
    */
  /** dHash perceptual fingerprint (Krawetz's difference hash) — THE
    * image near-dup primitive: sample a 9×8 luminance grid by
    * nearest-neighbor (gx = x·w div 9, gy = y·h div 8), bit(x,y) =
    * gray(x+1, y) > gray(x, y), 64 bits packed as two 32-bit halves
    * (hash_hi = bits 32..63) so the oracle's integer packing never
    * touches the BIGINT sign bit. gray = r+g+b (integer sum, no
    * division). Decode rides the same per-partition ImageIO seam as
    * m03/m06; the oracle replays PngGen's pixel formula at the
    * sampled coordinates, so a hash match proves the kernel decoded
    * and sampled the TRUE raster. Near-dup images then block/join on
    * the hash halves with a hamming refine — the d03 SimHash shape.
    */
  /** The pure dHash kernel over a decoded raster — exposed so
    * invariance is property-testable off the DataFrame path:
    * gray-DIFFERENCE comparisons make the hash exactly invariant
    * under clip-free uniform brightness shifts, and any lossless
    * re-encode (same pixels back out of a different container)
    * trivially hashes identically (PipelineSeamsSpec asserts both). */
  def dHashOf(img: java.awt.image.BufferedImage): (Long, Long) = {
    val (w, h) = (img.getWidth, img.getHeight)
    def gray(gx: Int, gy: Int): Int = {
      val v = img.getRGB(gx, gy)
      ((v >> 16) & 0xff) + ((v >> 8) & 0xff) + (v & 0xff)
    }
    var hi = 0L; var lo = 0L
    var y = 0
    while (y < 8) {
      val gy = y * h / 8
      var x = 0
      while (x < 8) {
        if (gray((x + 1) * w / 9, gy) > gray(x * w / 9, gy)) {
          val k = y * 8 + x
          if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        }
        x += 1
      }
      y += 1
    }
    (hi, lo)
  }

  def imageDHash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaFrames(s, d)
      .filter(_.media_type == "image")
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { m =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(m.payload))
          require(img != null, s"undecodable image payload for doc ${m.doc_id}")
          val (hi, lo) = dHashOf(img)
          (m.doc_id, hi, lo)
        }
      }
      .toDF("doc_id", "hash_hi", "hash_lo")
  }

  def imageResize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaFrames(s, d)
      .filter(_.media_type == "image")
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { m =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(m.payload))
          require(img != null, s"undecodable image payload for doc ${m.doc_id}")
          val (w2, h2) = ((img.getWidth + 1) / 2, (img.getHeight + 1) / 2)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < h2) {
            var x = 0
            while (x < w2) {
              val v = img.getRGB(2 * x, 2 * y)
              sr += (v >> 16) & 0xff; sg += (v >> 8) & 0xff; sb += v & 0xff
              x += 1
            }
            y += 1
          }
          (m.doc_id, w2.toLong, h2.toLong, sr, sg, sb)
        }
      }
      .toDF("doc_id", "out_w", "out_h", "sum_r", "sum_g", "sum_b")
  }

  /** Frame sampling over the decode stage — the video half of the
    * multimodal pipeline plumbing: every `stride`-th frame of each
    * video becomes a row (the shape a caption/embedding stage
    * consumes). Frame count comes from the REAL idx1 index
    * ([[AviParse.meta]]) and each sampled frame's feature is the
    * exact per-channel pixel sum of ITS raster, read through the idx1
    * offset out of the actual '00db' chunk — the oracle replays
    * [[AviGen]]'s per-frame pixel formula, so a hash match proves the
    * kernel demuxed and read the true frame bytes. Partition-local
    * flatMap, zero shuffles before the output sort.
    */
  def frameSample(s: SparkSession, d: String, stride: Int = 4): DataFrame = {
    import s.implicits._
    mediaFrames(s, d)
      .filter(_.media_type == "video")
      .mapPartitions(_.flatMap { m =>
        val meta = AviParse.meta(m.payload)
        (0 until meta.nFrames by stride).iterator.map { f =>
          val (sr, sg, sb) = AviParse.frameChannelSums(m.payload, meta, f)
          (m.doc_id, f.toLong, sr, sg, sb)
        }
      })
      .toDF("doc_id", "frame_idx", "sum_r", "sum_g", "sum_b")
      .orderBy("doc_id", "frame_idx")
  }

  /** Frame-delta profile per video: channel SADs between consecutive
    * frames — the scene-cut / keyframe-selection signal of a vision
    * data pipeline. `is_cut` thresholds the total SAD at
    * `cutThresholdPerPx` per pixel (mean abs delta across the three
    * channels). Same partition-local decode seam as [[frameSample]]:
    * per-row cost is two raster walks per pair, zero shuffles.
    */
  def sceneDeltas(s: SparkSession, d: String,
      cutThresholdPerPx: Int = 96): DataFrame = {
    import s.implicits._
    mediaFrames(s, d)
      .filter(_.media_type == "video")
      .mapPartitions(_.flatMap { m =>
        val meta = AviParse.meta(m.payload)
        val px = meta.width.toLong * meta.height
        (1 until meta.nFrames).iterator.map { f =>
          val (dr, dg, db) = AviParse.frameSad(m.payload, meta, f - 1, f)
          (m.doc_id, f.toLong, dr, dg, db,
            dr + dg + db > cutThresholdPerPx.toLong * px)
        }
      })
      .toDF("doc_id", "frame_idx", "sad_r", "sad_g", "sad_b", "is_cut")
      .orderBy("doc_id", "frame_idx")
  }

  val entries: Seq[(String, QFn, Option[String])] = Seq(
    // image dims are decoded from real PNG bitstreams, audio format
    // from real RIFF/WAVE headers, video shape from real RIFF/AVI
    // headers + idx1; the oracle replays the PngGen / WavGen / AviGen
    // parameter formulas — a hash match proves every arm read its
    // true bitstream
    ("m01_multimodal", (s: SparkSession, d: String) =>
      decoded(s, d).orderBy("doc_id"), Some("""
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        CAST(CASE WHEN doc_id % 3 = 0 THEN 8 + doc_id % 57
                  WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 5) * 1000
                  ELSE 8 + (doc_id * 13) % 24 END AS BIGINT) AS width,
        CAST(CASE WHEN doc_id % 3 = 0 THEN 8 + (doc_id * 31) % 41
                  WHEN doc_id % 3 = 1 THEN 1 + doc_id % 2
                  ELSE 8 + (doc_id * 7) % 16 END AS BIGINT) AS height,
        CAST(CASE WHEN doc_id % 3 = 0 THEN 1
                  WHEN doc_id % 3 = 1 THEN 200 + doc_id % 300
                  ELSE 2 + doc_id % 10 END AS BIGINT) AS n_frames
      FROM documents ORDER BY doc_id""")),

    // downstream aggregation over the decoded stage (pipeline
    // composition: typed decode feeds a columnar rollup)
    ("m02_media_stats", (s: SparkSession, d: String) => {
      decoded(s, d).groupBy(col("media_type"))
        .agg(count(lit(1)).as("n"),
          (sum(col("width")).cast("double") / count(lit(1))).as("avg_width"),
          (sum(col("height")).cast("double") / count(lit(1))).as("avg_height"),
          sum(col("n_frames")).as("total_frames"))
        .orderBy("media_type")
    }, Some("""
      WITH dec AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN 'image'
               WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
          CASE WHEN doc_id % 3 = 0 THEN 8 + doc_id % 57
               WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 5) * 1000
               ELSE 8 + (doc_id * 13) % 24 END AS width,
          CASE WHEN doc_id % 3 = 0 THEN 8 + (doc_id * 31) % 41
               WHEN doc_id % 3 = 1 THEN 1 + doc_id % 2
               ELSE 8 + (doc_id * 7) % 16 END AS height,
          CASE WHEN doc_id % 3 = 0 THEN 1
               WHEN doc_id % 3 = 1 THEN 200 + doc_id % 300
               ELSE 2 + doc_id % 10 END AS n_frames
        FROM documents)
      SELECT media_type, count(*) AS n,
        CAST(sum(width) AS DOUBLE) / count(*) AS avg_width,
        CAST(sum(height) AS DOUBLE) / count(*) AS avg_height,
        CAST(sum(n_frames) AS BIGINT) AS total_frames
      FROM dec GROUP BY media_type ORDER BY media_type""")),

    // raster-level feature extraction: exact per-channel pixel sums
    // out of the decoded image. The oracle replays the generator's
    // pixel formula over every (x,y) — a hash match proves the codec
    // decoded the actual raster, not just the header
    ("m03_image_stats", (s: SparkSession, d: String) =>
      imageStats(s, d).orderBy("doc_id"), Some("""
      WITH img AS (
        SELECT doc_id, 8 + doc_id % 57 AS w, 8 + (doc_id * 31) % 41 AS h
        FROM documents WHERE doc_id % 3 = 0),
      px AS (
        SELECT doc_id, w, w * h AS n_pixels,
          unnest(generate_series(0, w * h - 1)) AS i
        FROM img),
      ch AS (
        SELECT doc_id, n_pixels,
          (((i % w) * 31 + (i // w) * 7 + (doc_id % 251) * 13) & 16777215) AS v
        FROM px)
      SELECT doc_id, CAST(n_pixels AS BIGINT) AS n_pixels,
        CAST(sum((v >> 16) & 255) AS BIGINT) AS sum_r,
        CAST(sum((v >> 8) & 255) AS BIGINT) AS sum_g,
        CAST(sum(v & 255) AS BIGINT) AS sum_b
      FROM ch GROUP BY doc_id, n_pixels ORDER BY doc_id""")),

    // sample-level audio feature extraction: exact abs-sum over the
    // decoded PCM. The oracle replays WavGen's per-index sample
    // formula — a hash match proves the codec decoded the actual
    // 16-bit little-endian data chunk, not just the WAV header
    ("m04_audio_stats", (s: SparkSession, d: String) =>
      audioStats(s, d).orderBy("doc_id"), Some("""
      WITH aud AS (
        SELECT doc_id, 8000 + (doc_id % 5) * 1000 AS sr,
          (1 + doc_id % 2) * (200 + doc_id % 300) AS n_samples
        FROM documents WHERE doc_id % 3 = 1),
      sm AS (
        SELECT doc_id, sr, n_samples,
          unnest(generate_series(0, n_samples - 1)) AS i
        FROM aud),
      v AS (
        SELECT doc_id, sr, n_samples,
          ((i * 31 + doc_id * 7) % 65536) - 32768 AS s
        FROM sm)
      SELECT doc_id, CAST(sr AS BIGINT) AS sample_rate,
        CAST(n_samples AS BIGINT) AS n_samples,
        CAST(sum(abs(s)) AS BIGINT) AS sum_abs
      FROM v GROUP BY doc_id, sr, n_samples ORDER BY doc_id""")),

    // frame sampling over the REAL container: every 4th frame's exact
    // per-channel pixel sums, read through the idx1 offsets out of
    // the '00db' chunks. The oracle replays AviGen's frame-count and
    // per-frame pixel formulas — a hash match proves the demuxer read
    // the true frame rasters, the m03/m04 honesty bar for video
    // frame-delta / scene-cut profile: channel SADs between every
    // consecutive decoded frame pair. The oracle replays the
    // generator's pixel formula at fi AND fi−1 — a hash match proves
    // the kernel read BOTH true rasters in lockstep. is_cut is
    // all-false here by construction (synthetic video varies
    // smoothly, mean per-pixel delta ~21 « the 96/px threshold) —
    // the data property, not a stub; PipelineSeamsSpec exercises the
    // delta ordering on real decoded bytes
    ("m07_scene_deltas", (s: SparkSession, d: String) =>
      sceneDeltas(s, d), Some("""
      WITH v AS (SELECT doc_id, 8 + (doc_id * 13) % 24 AS w,
                   8 + (doc_id * 7) % 16 AS h, 2 + doc_id % 10 AS nf
                 FROM documents WHERE doc_id % 3 = 2),
      f AS (SELECT doc_id, w, h, unnest(generate_series(1, nf - 1)) AS fi FROM v),
      px AS (SELECT doc_id, fi, w, h,
               unnest(generate_series(0, w * h - 1)) AS i
             FROM f),
      ch AS (SELECT doc_id, fi, w, h,
               (((i % w) * 31 + (i // w) * 7 + fi * 11
                 + (doc_id % 251) * 13) & 16777215) AS v1,
               (((i % w) * 31 + (i // w) * 7 + (fi - 1) * 11
                 + (doc_id % 251) * 13) & 16777215) AS v0
             FROM px)
      SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
        CAST(sum(abs(((v1 >> 16) & 255) - ((v0 >> 16) & 255))) AS BIGINT) AS sad_r,
        CAST(sum(abs(((v1 >> 8) & 255) - ((v0 >> 8) & 255))) AS BIGINT) AS sad_g,
        CAST(sum(abs((v1 & 255) - (v0 & 255))) AS BIGINT) AS sad_b,
        sum(abs(((v1 >> 16) & 255) - ((v0 >> 16) & 255))
          + abs(((v1 >> 8) & 255) - ((v0 >> 8) & 255))
          + abs((v1 & 255) - (v0 & 255))) > 96 * w * h AS is_cut
      FROM ch GROUP BY doc_id, fi, w, h ORDER BY doc_id, frame_idx""")),

    ("m05_frame_sample", (s: SparkSession, d: String) =>
      frameSample(s, d, 4), Some("""
      WITH v AS (SELECT doc_id, 8 + (doc_id * 13) % 24 AS w,
                   8 + (doc_id * 7) % 16 AS h, 2 + doc_id % 10 AS nf
                 FROM documents WHERE doc_id % 3 = 2),
      f AS (SELECT doc_id, w, h, unnest(range(0, nf, 4)) AS fi FROM v),
      px AS (SELECT doc_id, fi, w,
               unnest(generate_series(0, w * h - 1)) AS i
             FROM f),
      ch AS (SELECT doc_id, fi,
               (((i % w) * 31 + (i // w) * 7 + fi * 11
                 + (doc_id % 251) * 13) & 16777215) AS v
             FROM px)
      SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
        CAST(sum((v >> 16) & 255) AS BIGINT) AS sum_r,
        CAST(sum((v >> 8) & 255) AS BIGINT) AS sum_g,
        CAST(sum(v & 255) AS BIGINT) AS sum_b
      FROM ch GROUP BY doc_id, fi ORDER BY doc_id, frame_idx""")),

    // nearest-neighbor 2x downsample of the decoded raster: the
    // oracle replays the generator's pixel formula at the EVEN
    // (2x, 2y) coordinates only — a hash match proves the resize
    // kernel sampled exactly those decoded pixels
    // ---- m08 entry function lives below with the other kernels ----
    ("m08_image_dhash", (s: SparkSession, d: String) =>
      imageDHash(s, d).orderBy("doc_id"), Some("""
      WITH img AS (
        SELECT doc_id, 8 + doc_id % 57 AS w, 8 + (doc_id * 31) % 41 AS h
        FROM documents WHERE doc_id % 3 = 0),
      g AS (SELECT doc_id, w, h, unnest(generate_series(0, 63)) AS k FROM img),
      c AS (SELECT doc_id, k, (k % 8) AS x, (k // 8) AS y, w, h FROM g),
      pix AS (SELECT doc_id, k,
        ((((x * w) // 9) * 31 + ((y * h) // 8) * 7
          + (doc_id % 251) * 13) & 16777215) AS v0,
        (((((x + 1) * w) // 9) * 31 + ((y * h) // 8) * 7
          + (doc_id % 251) * 13) & 16777215) AS v1
        FROM c),
      bits AS (SELECT doc_id, k,
        CASE WHEN (((v1 >> 16) & 255) + ((v1 >> 8) & 255) + (v1 & 255)) >
                  (((v0 >> 16) & 255) + ((v0 >> 8) & 255) + (v0 & 255))
             THEN 1 ELSE 0 END AS b
        FROM pix)
      SELECT doc_id,
        CAST(sum(CASE WHEN k >= 32 THEN b * (CAST(1 AS BIGINT) << (k - 32))
                      ELSE 0 END) AS BIGINT) AS hash_hi,
        CAST(sum(CASE WHEN k < 32 THEN b * (CAST(1 AS BIGINT) << k)
                      ELSE 0 END) AS BIGINT) AS hash_lo
      FROM bits GROUP BY doc_id ORDER BY doc_id""")),

    ("m06_image_resize", (s: SparkSession, d: String) =>
      imageResize(s, d).orderBy("doc_id"), Some("""
      WITH img AS (
        SELECT doc_id, 8 + doc_id % 57 AS w, 8 + (doc_id * 31) % 41 AS h
        FROM documents WHERE doc_id % 3 = 0),
      dims AS (SELECT doc_id, w, (w + 1) // 2 AS w2, (h + 1) // 2 AS h2 FROM img),
      px AS (SELECT doc_id, w2, h2,
               unnest(generate_series(0, w2 * h2 - 1)) AS i
             FROM dims),
      ch AS (SELECT doc_id, w2, h2,
               (((2 * (i % w2)) * 31 + (2 * (i // w2)) * 7
                 + (doc_id % 251) * 13) & 16777215) AS v
             FROM px)
      SELECT doc_id, CAST(w2 AS BIGINT) AS out_w, CAST(h2 AS BIGINT) AS out_h,
        CAST(sum((v >> 16) & 255) AS BIGINT) AS sum_r,
        CAST(sum((v >> 8) & 255) AS BIGINT) AS sum_g,
        CAST(sum(v & 255) AS BIGINT) AS sum_b
      FROM ch GROUP BY doc_id, w2, h2 ORDER BY doc_id""")),

    // ---- image near-dup: pairs of decoded images within hamming 6
    //      on the 64-bit dHash — d03's simhash discipline applied to
    //      the multimodal column (re-encoded screenshots, resized
    //      copies). 2-of-8 chunk-PAIR blocking (28 16-bit keys) is
    //      COMPLETE for hamming ≤ 6 (6 flips ruin ≤ 6 chunks → ≥ 2
    //      intact → their pair key collides), and the oracle is the
    //      EXHAUSTIVE all-pairs truth, so a hash match also proves
    //      candidate recall 1.0 (s16's convention) ----
    ("m09_image_neardup", (s: SparkSession, d: String) =>
      imageNearDup(s, d, 6).orderBy("id_a", "id_b"), Some("""
      WITH img AS (
        SELECT doc_id, 8 + doc_id % 57 AS w, 8 + (doc_id * 31) % 41 AS h
        FROM documents WHERE doc_id % 3 = 0),
      g AS (SELECT doc_id, w, h, unnest(generate_series(0, 63)) AS k FROM img),
      c AS (SELECT doc_id, k, (k % 8) AS x, (k // 8) AS y, w, h FROM g),
      pix AS (SELECT doc_id, k,
        ((((x * w) // 9) * 31 + ((y * h) // 8) * 7
          + (doc_id % 251) * 13) & 16777215) AS v0,
        (((((x + 1) * w) // 9) * 31 + ((y * h) // 8) * 7
          + (doc_id % 251) * 13) & 16777215) AS v1
        FROM c),
      bits AS (SELECT doc_id, k,
        CASE WHEN (((v1 >> 16) & 255) + ((v1 >> 8) & 255) + (v1 & 255)) >
                  (((v0 >> 16) & 255) + ((v0 >> 8) & 255) + (v0 & 255))
             THEN 1 ELSE 0 END AS b
        FROM pix),
      hs AS (SELECT doc_id,
        CAST(sum(CASE WHEN k >= 32 THEN b * (CAST(1 AS BIGINT) << (k - 32))
                      ELSE 0 END) AS BIGINT) AS hi,
        CAST(sum(CASE WHEN k < 32 THEN b * (CAST(1 AS BIGINT) << k)
                      ELSE 0 END) AS BIGINT) AS lo
        FROM bits GROUP BY doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
          AS BIGINT) AS hamming
      FROM hs a JOIN hs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 6
      ORDER BY id_a, id_b""")),

    // ---- audio perceptual fingerprint: Haitsma–Kalker's bit rule
    //      (sign of the TIME-DELTA of adjacent-BAND energy
    //      differences) over a 17-frame × 5-band abs-energy grid of
    //      the decoded PCM — 16×4 = 64 bits packed m08-style. The
    //      oracle replays WavGen's per-index sample formula through
    //      the full grid, so a hash match proves the kernel decoded
    //      every true sample, not just the header ----
    ("m10_audio_fingerprint", (s: SparkSession, d: String) =>
      audioFingerprint(s, d).orderBy("doc_id"), Some(AudioFpSql + """
      SELECT doc_id, hash_hi, hash_lo FROM hs ORDER BY doc_id""")),

    // ---- audio near-dup: pairs of decoded audio docs within hamming
    //      2 on the 64-bit fingerprint — the audio face of m09
    //      (re-encoded/phase-shifted copies byte dedup can't catch).
    //      Blocking = three 21/21/22-bit chunks (complete ≤ 2 by
    //      pigeonhole, 2²¹-selective keys); the oracle is the
    //      EXHAUSTIVE all-pairs truth, so a hash match also
    //      certifies candidate recall 1.0 ----
    ("m11_audio_neardup", (s: SparkSession, d: String) =>
      audioNearDup(s, d, 2).orderBy("id_a", "id_b"), Some(AudioFpSql + """
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.hash_hi, b.hash_hi))
           + bit_count(xor(a.hash_lo, b.hash_lo)) AS BIGINT) AS hamming
      FROM hs a JOIN hs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.hash_hi, b.hash_hi))
          + bit_count(xor(a.hash_lo, b.hash_lo)) <= 2
      ORDER BY id_a, id_b""")),

    // ---- video-level near-dup: per-VIDEO signature = the SET of its
    //      frames' 64-bit dHashes (m05's true frame walk through the
    //      idx1 offsets), banded d02-style with the frame hash itself
    //      as the band key — re-encoded copies keep every frame hash,
    //      trimmed copies keep the surviving frames', so copies pair
    //      through an equi join without any all-pairs stage. `shared`
    //      counts distinct common frame hashes (≥ 3 here); frame
    //      hashes in > 50 videos are dropped by the stop-frame valve
    //      BEFORE the self-join (no-signal frames — black frames,
    //      test cards — are the k² skew hazard); the oracle replays
    //      AviGen's per-frame pixel formula through the full dHash
    //      grid, applies the SAME valve, and joins EXHAUSTIVELY, so
    //      a hash match proves true-raster reads AND candidate
    //      recall 1.0 ----
    ("m12_video_neardup", (s: SparkSession, d: String) =>
      videoNearDup(s, d, 3, maxDf = 50).orderBy("id_a", "id_b"), Some("""
      WITH v AS (SELECT doc_id, 8 + (doc_id * 13) % 24 AS w,
                   8 + (doc_id * 7) % 16 AS h, 2 + doc_id % 10 AS nf
                 FROM documents WHERE doc_id % 3 = 2),
      f AS (SELECT doc_id, w, h, unnest(generate_series(0, nf - 1)) AS fi FROM v),
      g AS (SELECT doc_id, w, h, fi, unnest(generate_series(0, 63)) AS k FROM f),
      c AS (SELECT doc_id, fi, k, (k % 8) AS x, (k // 8) AS y, w, h FROM g),
      pix AS (SELECT doc_id, fi, k,
        ((((x * w) // 9) * 31 + ((y * h) // 8) * 7 + fi * 11
          + (doc_id % 251) * 13) & 16777215) AS v0,
        (((((x + 1) * w) // 9) * 31 + ((y * h) // 8) * 7 + fi * 11
          + (doc_id % 251) * 13) & 16777215) AS v1
        FROM c),
      bits AS (SELECT doc_id, fi, k,
        CASE WHEN (((v1 >> 16) & 255) + ((v1 >> 8) & 255) + (v1 & 255)) >
                  (((v0 >> 16) & 255) + ((v0 >> 8) & 255) + (v0 & 255))
             THEN 1 ELSE 0 END AS b FROM pix),
      fh AS (SELECT doc_id, fi,
        CAST(sum(CASE WHEN k >= 32 THEN b * (CAST(1 AS BIGINT) << (k - 32))
                      ELSE 0 END) AS BIGINT) AS hi,
        CAST(sum(CASE WHEN k < 32 THEN b * (CAST(1 AS BIGINT) << k)
                      ELSE 0 END) AS BIGINT) AS lo
        FROM bits GROUP BY doc_id, fi),
      sig0 AS (SELECT DISTINCT doc_id, hi, lo FROM fh),
      keep AS (SELECT hi, lo FROM sig0 GROUP BY hi, lo
               HAVING count(*) <= 50),
      sig AS (SELECT s.doc_id, s.hi, s.lo
              FROM sig0 s JOIN keep USING (hi, lo))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(count(*) AS BIGINT) AS shared
      FROM sig a JOIN sig b
        ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 3
      ORDER BY id_a, id_b""")),

    // ---- blocking-quality report for the perceptual hamming join
    //      (er09's discipline at the media layer), BOTH tiers: bucket
    //      count, hottest bucket, in-bucket candidate pairs,
    //      reduction ratio, off ONE (combo, key) count per tier —
    //      'pairs16' over the image dHashes it serves (m09's ≤ 6
    //      join), 'chunks21' over the audio fingerprints (m11's ≤ 2).
    //      The report that decides whether a blocking scheme survives
    //      the corpus BEFORE paying the join. The oracle replays the
    //      28 2-of-8 chunk-pair keys off m09's fingerprint CTE and
    //      the three 21/21/22-bit wide-chunk keys off m10's ----
    ("m13_perceptual_blocking", (s: SparkSession, d: String) =>
      hammingBlockingReport(imageDHash(s, d), 6)
        .withColumn("tier", lit("pairs16"))
        .unionByName(hammingBlockingReport(audioFingerprint(s, d), 2)
          .withColumn("tier", lit("chunks21")))
        .select(col("tier"), col("n_records"), col("n_buckets"),
          col("max_bucket"), col("candidates"), col("all_pairs"),
          col("reduction_ratio"))
        .orderBy("tier"), Some(AudioFpSql + """
      , img AS (
        SELECT doc_id, 8 + doc_id % 57 AS w, 8 + (doc_id * 31) % 41 AS h
        FROM documents WHERE doc_id % 3 = 0),
      ig AS (SELECT doc_id, w, h, unnest(generate_series(0, 63)) AS k FROM img),
      ic AS (SELECT doc_id, k, (k % 8) AS x, (k // 8) AS y, w, h FROM ig),
      ipix AS (SELECT doc_id, k,
        ((((x * w) // 9) * 31 + ((y * h) // 8) * 7
          + (doc_id % 251) * 13) & 16777215) AS v0,
        (((((x + 1) * w) // 9) * 31 + ((y * h) // 8) * 7
          + (doc_id % 251) * 13) & 16777215) AS v1
        FROM ic),
      ibits AS (SELECT doc_id, k,
        CASE WHEN (((v1 >> 16) & 255) + ((v1 >> 8) & 255) + (v1 & 255)) >
                  (((v0 >> 16) & 255) + ((v0 >> 8) & 255) + (v0 & 255))
             THEN 1 ELSE 0 END AS b
        FROM ipix),
      ihs AS (SELECT doc_id,
        CAST(sum(CASE WHEN k >= 32 THEN b * (CAST(1 AS BIGINT) << (k - 32))
                      ELSE 0 END) AS BIGINT) AS hi,
        CAST(sum(CASE WHEN k < 32 THEN b * (CAST(1 AS BIGINT) << k)
                      ELSE 0 END) AS BIGINT) AS lo
        FROM ibits GROUP BY doc_id),
      combos AS (SELECT a.ca, b.cb
                 FROM (SELECT unnest(generate_series(0, 7)) AS ca) a
                 JOIN (SELECT unnest(generate_series(0, 7)) AS cb) b
                   ON a.ca < b.cb),
      ikeys AS (SELECT h.doc_id, c.ca * 8 + c.cb AS j,
                 (CASE WHEN c.ca < 4 THEN (h.lo >> (8 * c.ca)) & 255
                       ELSE (h.hi >> (8 * (c.ca - 4))) & 255 END) * 256
                 + (CASE WHEN c.cb < 4 THEN (h.lo >> (8 * c.cb)) & 255
                         ELSE (h.hi >> (8 * (c.cb - 4))) & 255 END) AS bk
               FROM ihs h CROSS JOIN combos c),
      isizes AS (SELECT j, bk, count(*) AS b FROM ikeys GROUP BY j, bk),
      iagg AS (SELECT CAST(sum(b) // 28 AS BIGINT) AS n_records,
                CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(max(b) AS BIGINT) AS max_bucket,
                CAST(sum(b * (b - 1) // 2) AS BIGINT) AS candidates
              FROM isizes),
      -- the chunks21 keys: full = hi<<32 | lo split at bits 21 and 42
      akeys AS (
        SELECT doc_id, 0 AS j, hash_lo & 2097151 AS bk FROM hs
        UNION ALL
        SELECT doc_id, 1 AS j,
          ((hash_hi & 1023) * 2048) + ((hash_lo >> 21) & 2047) AS bk FROM hs
        UNION ALL
        SELECT doc_id, 2 AS j, (hash_hi >> 10) & 4194303 AS bk FROM hs),
      asizes AS (SELECT j, bk, count(*) AS b FROM akeys GROUP BY j, bk),
      aagg AS (SELECT CAST(sum(b) // 3 AS BIGINT) AS n_records,
                CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(max(b) AS BIGINT) AS max_bucket,
                CAST(sum(b * (b - 1) // 2) AS BIGINT) AS candidates
              FROM asizes)
      SELECT 'pairs16' AS tier, n_records, n_buckets, max_bucket, candidates,
        n_records * (n_records - 1) // 2 AS all_pairs,
        round(1.0 - CAST(candidates AS DOUBLE)
          / CAST(n_records * (n_records - 1) // 2 AS DOUBLE), 9)
          AS reduction_ratio
      FROM iagg
      UNION ALL
      SELECT 'chunks21' AS tier, n_records, n_buckets, max_bucket, candidates,
        n_records * (n_records - 1) // 2 AS all_pairs,
        round(1.0 - CAST(candidates AS DOUBLE)
          / CAST(n_records * (n_records - 1) // 2 AS DOUBLE), 9)
          AS reduction_ratio
      FROM aagg
      ORDER BY tier""")),

    // ---- incremental perceptual dedup: the d09 production loop at
    //      the media layer — image fingerprints of the ~80% "corpus"
    //      split live in a bucketed store ([[MediaDedup]]), the ~20%
    //      "batch" classifies against it through ONE zero-store-side-
    //      exchange skey join + exact hamming ≤ 6 verify, uniques
    //      appended. The blocking is complete for ≤ 6, so the
    //      classification equals the EXHAUSTIVE batch×corpus truth
    //      the oracle computes (recall 1.0 certified, d09's
    //      restricted-CTE pattern) ----
    ("m14_media_ingest", (s: SparkSession, d: String) => {
      // materialize the decode+dHash pass ONCE (docs-sized KB frame):
      // the store build (blocks + fps tables), the probe keys, and the
      // unique-append each read `fps`, and without the cut every
      // reader re-ran the image decode from the parquet scan
      val fps = Cut(imageDHash(s, d))
      // deterministic ~20% "new batch" (d06's ANSI-safe Knuth hash)
      val isB =
        pmod(pmod(col("doc_id"), lit(1000003L)) * lit(427799L), lit(1000003L)) % 5 === 0
      MediaDedup.writeFingerprintStore(s, "m14_store", fps.filter(!isB), 6)
      MediaDedup.fingerprintStore("m14_store", 6).ingest(s, fps.filter(isB))
        .orderBy("doc_id")
    }, Some("""
      WITH img AS (
        SELECT doc_id, 8 + doc_id % 57 AS w, 8 + (doc_id * 31) % 41 AS h
        FROM documents WHERE doc_id % 3 = 0),
      g AS (SELECT doc_id, w, h, unnest(generate_series(0, 63)) AS k FROM img),
      c AS (SELECT doc_id, k, (k % 8) AS x, (k // 8) AS y, w, h FROM g),
      pix AS (SELECT doc_id, k,
        ((((x * w) // 9) * 31 + ((y * h) // 8) * 7
          + (doc_id % 251) * 13) & 16777215) AS v0,
        (((((x + 1) * w) // 9) * 31 + ((y * h) // 8) * 7
          + (doc_id % 251) * 13) & 16777215) AS v1
        FROM c),
      bits AS (SELECT doc_id, k,
        CASE WHEN (((v1 >> 16) & 255) + ((v1 >> 8) & 255) + (v1 & 255)) >
                  (((v0 >> 16) & 255) + ((v0 >> 8) & 255) + (v0 & 255))
             THEN 1 ELSE 0 END AS b
        FROM pix),
      hs AS (SELECT doc_id,
        CAST(sum(CASE WHEN k >= 32 THEN b * (CAST(1 AS BIGINT) << (k - 32))
                      ELSE 0 END) AS BIGINT) AS hi,
        CAST(sum(CASE WHEN k < 32 THEN b * (CAST(1 AS BIGINT) << k)
                      ELSE 0 END) AS BIGINT) AS lo
        FROM bits GROUP BY doc_id),
      flag AS (SELECT doc_id,
                 (doc_id % 1000003) * 427799 % 1000003 % 5 = 0 AS isb
               FROM hs),
      near AS (SELECT a.doc_id AS bid, min(c.doc_id) AS mid
               FROM hs a JOIN flag fa ON fa.doc_id = a.doc_id AND fa.isb
                    JOIN hs c ON bit_count(xor(a.hi, c.hi))
                               + bit_count(xor(a.lo, c.lo)) <= 6
                    JOIN flag fc ON fc.doc_id = c.doc_id AND NOT fc.isb
               GROUP BY 1)
      SELECT f.doc_id,
        CASE WHEN n.mid IS NOT NULL THEN 'near' ELSE 'unique' END AS status,
        COALESCE(n.mid, CAST(-1 AS BIGINT)) AS match_id
      FROM flag f LEFT JOIN near n ON n.bid = f.doc_id
      WHERE f.isb ORDER BY doc_id""")),

    // ---- incremental VIDEO-signature dedup: m14's store loop for
    //      m12's SET-of-frame-hashes signatures — the ~80% "corpus"
    //      split's frame dHashes live in a store bucketed on the
    //      frame hash ([[MediaDedup.writeVideoSignatureStore]]), the
    //      ~20% "batch" classifies through ONE zero-store-side-
    //      exchange fkey join whose groupBy count IS the verify
    //      (shared ≥ 3), with the maxDf stop-frame valve RE-DERIVED
    //      from the store's current df counts (df ≤ 50 over live
    //      corpus videos — never frozen at build time), uniques'
    //      signatures appended. The oracle replays the same split,
    //      valve, and exhaustive batch×corpus join, so a hash match
    //      certifies candidate recall 1.0 under the store layout ----
    ("m15_video_ingest", (s: SparkSession, d: String) => {
      // one video decode pass for store build + probe + append (m14's
      // cut rationale; the frame-hash frame is frames-sized, still KB)
      val frames = Cut(videoFrameHashes(s, d)
        .select(col("doc_id"), col("hash_hi"), col("hash_lo")))
      val isB =
        pmod(pmod(col("doc_id"), lit(1000003L)) * lit(427799L), lit(1000003L)) % 5 === 0
      MediaDedup.writeVideoSignatureStore(s, "m15_store", frames.filter(!isB))
      MediaDedup.videoStore("m15_store", minShared = 3, maxDf = 50)
        .ingest(s, frames.filter(isB))
        .orderBy("doc_id")
    }, Some("""
      WITH v AS (SELECT doc_id, 8 + (doc_id * 13) % 24 AS w,
                   8 + (doc_id * 7) % 16 AS h, 2 + doc_id % 10 AS nf
                 FROM documents WHERE doc_id % 3 = 2),
      f AS (SELECT doc_id, w, h, unnest(generate_series(0, nf - 1)) AS fi FROM v),
      g AS (SELECT doc_id, w, h, fi, unnest(generate_series(0, 63)) AS k FROM f),
      c AS (SELECT doc_id, fi, k, (k % 8) AS x, (k // 8) AS y, w, h FROM g),
      pix AS (SELECT doc_id, fi, k,
        ((((x * w) // 9) * 31 + ((y * h) // 8) * 7 + fi * 11
          + (doc_id % 251) * 13) & 16777215) AS v0,
        (((((x + 1) * w) // 9) * 31 + ((y * h) // 8) * 7 + fi * 11
          + (doc_id % 251) * 13) & 16777215) AS v1
        FROM c),
      bits AS (SELECT doc_id, fi, k,
        CASE WHEN (((v1 >> 16) & 255) + ((v1 >> 8) & 255) + (v1 & 255)) >
                  (((v0 >> 16) & 255) + ((v0 >> 8) & 255) + (v0 & 255))
             THEN 1 ELSE 0 END AS b FROM pix),
      fh AS (SELECT doc_id, fi,
        CAST(sum(CASE WHEN k >= 32 THEN b * (CAST(1 AS BIGINT) << (k - 32))
                      ELSE 0 END) AS BIGINT) AS hi,
        CAST(sum(CASE WHEN k < 32 THEN b * (CAST(1 AS BIGINT) << k)
                      ELSE 0 END) AS BIGINT) AS lo
        FROM bits GROUP BY doc_id, fi),
      sig0 AS (SELECT DISTINCT doc_id, hi, lo FROM fh),
      flag AS (SELECT doc_id,
                 (doc_id % 1000003) * 427799 % 1000003 % 5 = 0 AS isb
               FROM v),
      corp AS (SELECT s.doc_id, s.hi, s.lo
               FROM sig0 s JOIN flag f ON f.doc_id = s.doc_id AND NOT f.isb),
      keep AS (SELECT hi, lo FROM corp GROUP BY hi, lo
               HAVING count(*) <= 50),
      ckeep AS (SELECT c.doc_id, c.hi, c.lo FROM corp c JOIN keep USING (hi, lo)),
      bat AS (SELECT s.doc_id, s.hi, s.lo
              FROM sig0 s JOIN flag f ON f.doc_id = s.doc_id AND f.isb),
      pairs AS (SELECT b.doc_id AS bid, c.doc_id AS cid, count(*) AS shared
                FROM bat b JOIN ckeep c ON b.hi = c.hi AND b.lo = c.lo
                GROUP BY 1, 2 HAVING count(*) >= 3),
      near AS (SELECT bid, min(cid) AS mid FROM pairs GROUP BY bid)
      SELECT f.doc_id,
        CASE WHEN n.mid IS NOT NULL THEN 'near' ELSE 'unique' END AS status,
        COALESCE(n.mid, CAST(-1 AS BIGINT)) AS match_id
      FROM flag f LEFT JOIN near n ON n.bid = f.doc_id
      WHERE f.isb ORDER BY doc_id""")),

    // ---- the chunks21 (≤ 2) tier through the fingerprint store:
    //      m14's loop at the AUDIO tier, so the store's other blocking
    //      scheme (three 21/21/22-bit chunks, schemeOf(2), its own
    //      dial round-trip and skey layout) is oracle-gated end to
    //      end, not just spec-covered. Exhaustive batch×corpus truth
    //      at hamming ≤ 2 — a hash match re-certifies batch-probe
    //      recall 1.0 at this tier ----
    ("m16_audio_ingest", (s: SparkSession, d: String) => {
      // one audio decode pass for all store/probe readers (m14's cut)
      val fps = Cut(audioFingerprint(s, d))
      // batch = Knuth-hash bucket 0, corpus = bucket 1 (NOT the other
      // 80%): the synthetic audio fingerprints are DENSE (66 distinct
      // over 167 docs at sf0.01), so an 80% corpus matches every
      // batch doc and the entry would never exercise the unique →
      // append path; a 20% corpus yields a near/unique mix
      val bucket =
        pmod(pmod(col("doc_id"), lit(1000003L)) * lit(427799L), lit(1000003L)) % 5
      MediaDedup.writeFingerprintStore(s, "m16_store",
        fps.filter(bucket === 1), 2)
      MediaDedup.fingerprintStore("m16_store", 2)
        .ingest(s, fps.filter(bucket === 0))
        .orderBy("doc_id")
    }, Some(AudioFpSql + """
      , flag AS (SELECT doc_id,
                   (doc_id % 1000003) * 427799 % 1000003 % 5 = 0 AS isb,
                   (doc_id % 1000003) * 427799 % 1000003 % 5 = 1 AS isc
                 FROM hs),
      near AS (SELECT a.doc_id AS bid, min(c.doc_id) AS mid
               FROM hs a JOIN flag fa ON fa.doc_id = a.doc_id AND fa.isb
                    JOIN hs c ON bit_count(xor(a.hash_hi, c.hash_hi))
                               + bit_count(xor(a.hash_lo, c.hash_lo)) <= 2
                    JOIN flag fc ON fc.doc_id = c.doc_id AND fc.isc
               GROUP BY 1)
      SELECT f.doc_id,
        CASE WHEN n.mid IS NOT NULL THEN 'near' ELSE 'unique' END AS status,
        COALESCE(n.mid, CAST(-1 AS BIGINT)) AS match_id
      FROM flag f LEFT JOIN near n ON n.bid = f.doc_id
      WHERE f.isb ORDER BY doc_id"""))
  )

  /** Shared fingerprint CTE of the m10/m11 oracles: WavGen's sample
    * formula → 17×5 abs-energy grid → Haitsma–Kalker bits → packed
    * 64-bit halves. */
  // def, not val: `entries` above references it during object init,
  // before a later-declared val would be assigned
  private def AudioFpSql: String = """
      WITH aud AS (
        SELECT doc_id, (1 + doc_id % 2) * (200 + doc_id % 300) AS n
        FROM documents WHERE doc_id % 3 = 1),
      sm AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM aud),
      e0 AS (
        SELECT doc_id, (i * 17) // n AS t, i % 5 AS bd,
          sum(abs(((i * 31 + doc_id * 7) % 65536) - 32768)) AS en
        FROM sm GROUP BY 1, 2, 3),
      -- full 17x5 grid with empty cells as ZERO energy: the JVM
      -- kernel zero-initializes its grid, so a doc too short to
      -- populate every (t, band) cell must compare against 0, not
      -- have the cell dropped by an inner join (WavGen's >=200
      -- samples happens to fill all cells, but parity must not
      -- depend on the generator's minimum length)
      e AS (
        SELECT a.doc_id, t.t, b.bd, COALESCE(e0.en, 0) AS en
        FROM aud a
        CROSS JOIN (SELECT unnest(generate_series(0, 16)) AS t) t
        CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS bd) b
        LEFT JOIN e0 ON e0.doc_id = a.doc_id AND e0.t = t.t
          AND e0.bd = b.bd),
      d AS (
        SELECT a.doc_id, a.t, a.bd, a.en - c.en AS dv
        FROM e a JOIN e c ON a.doc_id = c.doc_id AND a.t = c.t
          AND c.bd = a.bd + 1
        WHERE a.bd < 4),
      bits AS (
        SELECT a.doc_id, (a.t - 1) * 4 + a.bd AS k,
          CASE WHEN a.dv - p.dv > 0 THEN 1 ELSE 0 END AS b
        FROM d a JOIN d p ON a.doc_id = p.doc_id AND p.t = a.t - 1
          AND p.bd = a.bd
        WHERE a.t >= 1),
      hs AS (SELECT doc_id,
          CAST(sum(CASE WHEN k >= 32 THEN b * (CAST(1 AS BIGINT) << (k - 32))
                        ELSE 0 END) AS BIGINT) AS hash_hi,
          CAST(sum(CASE WHEN k < 32 THEN b * (CAST(1 AS BIGINT) << k)
                        ELSE 0 END) AS BIGINT) AS hash_lo
        FROM bits GROUP BY doc_id)"""

  /** Haitsma–Kalker-style perceptual audio fingerprint over the
    * decoded PCM — the audio analogue of [[imageDHash]], closing the
    * near-dup triangle's audio corner: a re-encoded or slightly
    * edited copy keeps its energy envelope, so its fingerprint stays
    * within a small hamming distance while byte-level dedup sees a
    * different file.
    *
    * Grid: 17 equal time frames (frame of sample i = integer
    * `i·17 div N`) × 5 polyphase bands
    * (b = i mod 5 — decimation phases standing in for the classic
    * 33-band filterbank; the synthetic corpus is single-tone sawtooth
    * audio, so a real FFT bank would collapse anyway, and integer
    * abs-energies keep JVM↔oracle parity exact where float spectra
    * could not). E(t,b) = Σ|sample|. Bit rule is Haitsma–Kalker's
    * ORIGINAL: bit(t,b) = (E(t,b)−E(t,b+1)) − (E(t−1,b)−E(t−1,b+1))
    * > 0 — the sign of the time delta of adjacent-band energy
    * differences — over t = 1…16, b = 0…3 → 64 bits packed as two
    * sign-safe halves (m08's convention). Same one-decode-per-row
    * partition-local seam as [[audioStats]]; zero shuffles.
    */
  /** The pure fingerprint kernel over decoded little-endian 16-bit
    * PCM bytes — exposed so invariance is property-testable off the
    * DataFrame path: abs-energy comparisons make the hash exactly
    * invariant under phase inversion (sign flip, the classic
    * re-encode artifact), and any monotone-in-|s| resample that
    * preserves the energy ORDER between grid cells leaves every bit
    * unchanged (PipelineSeamsSpec asserts the former, plus WAV
    * re-encode roundtrip identity). */
  def audioFpOfPcm(bytes: Array[Byte]): (Long, Long) = {
    val n = bytes.length / 2
    require(n > 0, "empty PCM")
    val e = Array.ofDim[Long](17, 5)
    var i = 0
    while (i < n) {
      val v = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toLong
      e((i.toLong * 17 / n).toInt)(i % 5) += math.abs(v)
      i += 1
    }
    var hi = 0L; var lo = 0L
    var t = 1
    while (t <= 16) {
      var b = 0
      while (b < 4) {
        if ((e(t)(b) - e(t)(b + 1)) - (e(t - 1)(b) - e(t - 1)(b + 1)) > 0) {
          val k = (t - 1) * 4 + b
          if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        }
        b += 1
      }
      t += 1
    }
    (hi, lo)
  }

  def audioFingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaFrames(s, d)
      .filter(_.media_type == "audio")
      .mapPartitions(_.map { m =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(m.payload))
        val (hi, lo) = audioFpOfPcm(ais.readAllBytes())
        (m.doc_id, hi, lo)
      })
      .toDF("doc_id", "hash_hi", "hash_lo")
  }

  /** Perceptual near-dup pairs over the audio fingerprints — m09's
    * chunk-blocked hamming join ([[hammingPairs]]) on
    * [[audioFingerprint]]. SCALE: identical shape to m09 — decode is
    * partition-local, blocking one equi join; at hamming ≤ 2 the
    * scheme is three 21/22-bit chunks (2²¹-selective keys — see
    * [[hammingBlockKeys]]). */
  def audioNearDup(s: SparkSession, d: String, maxHamming: Int): DataFrame =
    hammingPairs(audioFingerprint(s, d), maxHamming)

  /** Per-frame 64-bit dHashes of every video — m05's true frame walk
    * (idx1-offset raster reads) feeding [[AviParse.frameDHash]]; the
    * per-video ordered signature the video near-dup banding consumes.
    */
  def videoFrameHashes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaFrames(s, d)
      .filter(_.media_type == "video")
      .mapPartitions(_.flatMap { m =>
        val meta = AviParse.meta(m.payload)
        (0 until meta.nFrames).iterator.map { f =>
          val (hi, lo) = AviParse.frameDHash(m.payload, meta, f)
          (m.doc_id, f.toLong, hi, lo)
        }
      })
      .toDF("doc_id", "frame_idx", "hash_hi", "hash_lo")
  }

  /** Video-level near-dup pairs: videos sharing ≥ `minShared`
    * DISTINCT frame dHashes. The signature is d02's band idea applied
    * to the frame axis — each frame's 64-bit dHash IS a band key, so
    * candidates come from ONE equi join on (hash_hi, hash_lo) and the
    * overlap count falls out of the same join (the verify is the
    * aggregation itself, no second pass). Re-encoded copies keep
    * every frame hash; trimmed copies keep the surviving frames' —
    * both pair as long as `minShared` frames survive.
    *
    * SCALE: per-bucket pair work is bounded by how many videos share
    * one exact 64-bit frame hash — never all-pairs — PLUS the
    * `maxDf` stop-frame valve: a single frame hash shared by k
    * videos contributes k² join rows, and real corpora HAVE such
    * frames (black frames, intro cards, test patterns), so hashes
    * appearing in more than `maxDf` videos are dropped BEFORE the
    * self-join (d25's rarity logic: a frame every video has carries
    * no near-dup signal — trimmed-copy semantics only lose
    * no-signal frames from the shared count). The groupBy is
    * partial-aggregable. The m12 oracle replays the valve and joins
    * exhaustively, so a green row also certifies candidate recall
    * 1.0 under the same stop-hash set.
    */
  def videoNearDup(s: SparkSession, d: String, minShared: Int,
      maxDf: Int = Int.MaxValue): DataFrame =
    sharedFrameSig(videoFrameHashes(s, d), minShared, maxDf)

  /** The join half of [[videoNearDup]] over any (doc_id, hash_hi,
    * hash_lo) frame-signature frame — factored so the stop-frame
    * valve is spec-testable with a planted common frame. */
  private[graft] def sharedFrameSig(frames: DataFrame, minShared: Int,
      maxDf: Int): DataFrame = {
    require(minShared >= 1, s"need minShared >= 1, got $minShared")
    require(maxDf >= 1, s"need maxDf >= 1, got $maxDf")
    // ONE decode pass: the signature frame feeds the df valve AND
    // both self-join sides — without materialization Spark re-runs
    // the upstream frame-hash walk (the dominant cost: payload
    // decode) once per consumer. The materialized frame is
    // signature-sized (video × distinct frame hash — the same frame
    // a production pipeline persists as the m15 video-signature
    // store), never payload-sized, but it IS corpus-sized, so the
    // cut goes through [[Cut]] (reliable checkpoint when a dir is
    // configured — a lost executor must not strand the only copy).
    // Measured at sf0.1: 2.5s → ~1.4s entry.
    val sig0 = frames
      .select(col("doc_id"), col("hash_hi"), col("hash_lo")).distinct()
      .transform(Cut(_))
    // document frequency per frame hash — partial-aggregable COUNT
    // first (hot hashes never collect doc lists anywhere: the count
    // is bytes per key however skewed the frame), then a semi-join
    // valve; the join is hash-to-hash (small right side under AQE)
    val keep = sig0.groupBy(col("hash_hi"), col("hash_lo"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
      .select(col("hash_hi"), col("hash_lo"))
    val sig = sig0.join(keep, Seq("hash_hi", "hash_lo"), "left_semi")
    sig.select(col("doc_id").as("id_a"), col("hash_hi"), col("hash_lo"))
      .join(sig.select(col("doc_id").as("id_b"), col("hash_hi"),
        col("hash_lo")), Seq("hash_hi", "hash_lo"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Perceptual near-dup pairs over the decoded images' dHashes:
    * exact hamming ≤ `maxHamming` with chunk-pair Manku blocking
    * ([[hammingPairs]] — d03's 2-of-8 scheme, complete for ≤ 6);
    * verification is an exact bit_count(xor) filter. The multimodal
    * face of d03: catches the re-encoded/resized copies byte-level
    * dedup can't.
    *
    * SCALE: the decode pass is m08's (one codec init per partition);
    * blocking is one (combo-index, 16-bit key) equi join — the
    * full-entropy candidate floor is n²·28/2¹⁷ ≈ n²/4681, not the
    * n²/64 a single 8-bit chunk key structurally pins (2⁸ values
    * CANNOT give near-singleton buckets past n ≈ 2k). The oracle IS
    * all-pairs (gate-corpus truth), so a green row also certifies
    * recall 1.0.
    */
  def imageNearDup(s: SparkSession, d: String, maxHamming: Int): DataFrame =
    hammingPairs(imageDHash(s, d), maxHamming)

  /** Blocking keys for the perceptual hamming join over a 64-bit
    * hash table (doc_id, hash_hi, hash_lo in m08's sign-safe-halves
    * convention) — one row per (doc, key-index `j`, key value `bk`).
    * Two Manku (WWW'07) schemes, picked by the threshold:
    *
    *   - maxHamming ≤ 2 → THREE wide chunks (21 + 21 + 22 bits).
    *     Complete: 2 flips corrupt ≤ 2 of the 3 chunks, so ≥ 1 is
    *     intact and its key collides. Full-entropy selectivity ≈
    *     2²¹ per key → candidate floor n²·(2·2⁻²¹ + 2⁻²²)/2 ≈
    *     n²/1.7M.
    *   - maxHamming ≤ 6 → all C(8,2) = 28 ORDERED PAIRS of the
    *     eight 8-bit chunks as 16-bit keys (Dedup.simhashPairs'
    *     layout). Complete: 6 flips corrupt ≤ 6 chunks, so ≥ 2 are
    *     intact and their pair key is one of the 28 combos. Floor ≈
    *     n²·28/2¹⁷ ≈ n²/4681.
    *
    * Either floor falls with key entropy, unlike the single-8-bit-
    * chunk layout this replaced (8 × 2⁸ keys → a structural n²/64
    * floor REGARDLESS of true-duplicate structure: at 10⁶ docs
    * that is ~1.6·10¹⁰ candidates before the distinct). Measured by
    * Scale's planted-entropy probe (SURVEY §5).
    */
  private[graft] def hammingBlockKeys(h: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 6,
      s"chunk-pair blocking is complete only for maxHamming <= 6, " +
        s"got $maxHamming (wider thresholds need more/wider chunks)")
    val full = shiftleft(col("hash_hi"), 32).bitwiseOR(col("hash_lo"))
    val keys =
      if (maxHamming <= 2)
        array(
          full.bitwiseAND(lit(0x1fffffL)),
          shiftrightunsigned(full, 21).bitwiseAND(lit(0x1fffffL)),
          shiftrightunsigned(full, 42).bitwiseAND(lit(0x3fffffL)))
      else {
        def chunk(c: Int) =
          shiftrightunsigned(full, 8 * c).bitwiseAND(lit(0xffL))
        val combos = for { a <- 0 until 8; b <- a + 1 until 8 } yield (a, b)
        array(combos.map { case (a, b) => chunk(a) * 256L + chunk(b) }: _*)
      }
    h.select(col("doc_id"), col("hash_hi"), col("hash_lo"),
      posexplode(keys).as(Seq("j", "bk")))
  }

  /** Keys [[hammingBlockKeys]] emits per doc at this threshold — the
    * ONE place the per-scheme key count lives (the blocking report
    * divides key rows by it to recover n_records; re-deriving it at a
    * use site would desync silently on a scheme/tier change). */
  private[graft] def keysPerDoc(maxHamming: Int): Long =
    if (maxHamming <= 2) 3L else 28L

  /** Chunk-blocked hamming join + exact refine over any 64-bit
    * perceptual-hash table (doc_id, hash_hi, hash_lo) — the shared
    * near-dup back half of the multimodal triangle: images block
    * their dHashes (m09), audio its Haitsma–Kalker fingerprint (m11)
    * through the SAME plan. Candidates come from one equi join on
    * [[hammingBlockKeys]]' (j, bk) rows (completeness + selectivity
    * arithmetic there); verification is an exact bit_count(xor)
    * filter, so blocking can only cost, never lose — both entries'
    * exhaustive all-pairs oracles certify recall 1.0.
    */
  private[graft] def hammingPairs(h: DataFrame, maxHamming: Int): DataFrame = {
    val chunks = hammingBlockKeys(h, maxHamming)
    val a = chunks.select(col("doc_id").as("id_a"),
      col("hash_hi").as("ha"), col("hash_lo").as("la"),
      col("j"), col("bk"))
    val b = chunks.select(col("doc_id").as("id_b"),
      col("hash_hi").as("hb"), col("hash_lo").as("lb"),
      col("j"), col("bk"))
    a.join(b, Seq("j", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("ha"), col("la"),
        col("hb"), col("lb"))
      .distinct()
      .withColumn("hamming",
        expr("bit_count(ha ^ hb) + bit_count(la ^ lb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** er09's blocking-quality report for the perceptual hamming join —
    * the numbers that decide whether the block scheme survives the
    * corpus BEFORE paying the join: records, key rows, distinct
    * buckets, hottest bucket, in-bucket candidate pairs
    * Σ b·(b−1)/2 (what the equi join emits pre-distinct, counting a
    * pair once per shared key — the COST metric, not the recall one),
    * the all-pairs baseline, and Christen's reduction ratio. All
    * exact integers off ONE partial-aggregable (j, bk) count.
    */
  def hammingBlockingReport(h: DataFrame, maxHamming: Int): DataFrame = {
    val sizes = hammingBlockKeys(h, maxHamming)
      .groupBy(col("j"), col("bk")).agg(count(lit(1)).as("b"))
    val nKeys = keysPerDoc(maxHamming)
    sizes.agg(
        (sum(col("b")) / lit(nKeys)).cast("bigint").as("n_records"),
        count(lit(1)).as("n_buckets"), max(col("b")).as("max_bucket"),
        sum(expr("b * (b - 1) div 2")).as("candidates"))
      .withColumn("all_pairs", expr("n_records * (n_records - 1) div 2"))
      .withColumn("reduction_ratio",
        when(col("all_pairs") > 0L, round(lit(1.0) -
          col("candidates").cast("double") / col("all_pairs").cast("double"),
          9)))
  }
}
