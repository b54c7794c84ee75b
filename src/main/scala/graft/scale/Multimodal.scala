package graft.scale

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column plumbing: image/audio/video payloads travel as opaque
 * `binary` columns with typed metadata structs. The Spark side — schemas,
 * partition sizing, batch iteration shape, output contracts — is real and
 * tested, and container HEADERS decode for real (ImageCodecs: JPEG SOF /
 * PNG IHDR / GIF LSD; AvCodecs: WAV/RIFF fmt+data, MP4 moov/mvhd — all
 * pure JDK). Pixel/sample decoding (needed for true
 * visual features) would require media libraries unavailable in this
 * environment, so the feature kernel is a deterministic byte-level
 * fingerprint (ByteKernels.features) documented as standing in for a
 * learned embedding — swap the kernel without touching the dataflow.
 *
 * Design for 100 TB of media:
 *  - payloads stay in executor space end-to-end (mapPartitions over binary,
 *    never collect);
 *  - `spark.sql.files.maxPartitionBytes` governs scan parallelism — media
 *    rows are large, so feature extraction is sized by bytes not rows;
 *  - extracted features are small fixed-width vectors, so downstream joins/
 *    dedup run on feature tables orders of magnitude smaller than the media.
 */
object Multimodal {

  /**
   * REAL container-header codecs, pure JDK: sniff the format and decode
   * intrinsic dimensions from header bytes without touching pixel data.
   * This is exactly what a 100 TB media scan wants for metadata
   * extraction — O(header) work per row, no decoder allocation.
   */
  object ImageCodecs {

    private def u16be(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
    private def u16le(b: Array[Byte], i: Int): Int =
      ((b(i + 1) & 0xFF) << 8) | (b(i) & 0xFF)
    private def u32be(b: Array[Byte], i: Int): Long =
      ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
        ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)

    /** PNG: 8-byte signature, then the IHDR chunk must come first (PNG
      * spec §5.6): 4-byte length(=13), "IHDR", width/height as big-endian
      * u32 at offsets 16/20. */
    private def png(b: Array[Byte]): Option[(String, Int, Int)] = {
      val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
      if (b.length < 24 || !java.util.Arrays.equals(b.take(8), sig)) None
      else if (!(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')) None
      else {
        val (w, h) = (u32be(b, 16), u32be(b, 20))
        if (w < 1 || h < 1 || w > Int.MaxValue || h > Int.MaxValue) None
        else Some(("image/png", w.toInt, h.toInt))
      }
    }

    /** JPEG (ITU T.81 §B.2.2): after SOI, walk marker segments to the
      * first start-of-frame SOFn (0xC0-0xCF minus DHT 0xC4, JPG 0xC8,
      * DAC 0xCC); the frame header carries height then width as u16. A
      * height of 0 means "deferred to DNL" — not produced by real
      * encoders; rejected here. */
    private def jpeg(b: Array[Byte]): Option[(String, Int, Int)] = {
      if (b.length < 4 || (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return None
      var i = 2
      while (i + 3 < b.length) {
        if ((b(i) & 0xFF) != 0xFF) return None // desynced: not a marker
        val m = b(i + 1) & 0xFF
        if (m == 0xFF) i += 1 // fill byte
        else if (m == 0x01 || (m >= 0xD0 && m <= 0xD8)) i += 2 // standalone
        else if (m == 0xD9 || m == 0xDA) return None // EOI/SOS before any SOF
        else {
          val segLen = u16be(b, i + 2)
          if (segLen < 2) return None
          val isSof = m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC
          if (isSof) {
            if (i + 8 >= b.length || segLen < 7) return None
            val h = u16be(b, i + 5)
            val w = u16be(b, i + 7)
            return if (w < 1 || h < 1) None else Some(("image/jpeg", w, h))
          }
          i += 2 + segLen
        }
      }
      None
    }

    /** GIF87a/GIF89a: logical screen width/height as little-endian u16 at
      * offsets 6/8. */
    private def gif(b: Array[Byte]): Option[(String, Int, Int)] = {
      if (b.length < 10) return None
      val hdr = new String(b, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
      if (hdr != "GIF87a" && hdr != "GIF89a") None
      else {
        val (w, h) = (u16le(b, 6), u16le(b, 8))
        if (w < 1 || h < 1) None else Some(("image/gif", w, h))
      }
    }

    /** (mime, width, height) when the payload is a recognized image
      * container; None otherwise (caller decides the fallback). */
    def dimensions(bytes: Array[Byte]): Option[(String, Int, Int)] =
      png(bytes).orElse(jpeg(bytes)).orElse(gif(bytes))
  }

  /**
   * REAL audio/video container-header codecs, pure JDK byte walks like
   * ImageCodecs: WAV/RIFF fmt+data chunks (sample rate, channels,
   * duration) and MP4/ISO-BMFF moov/mvhd (timescale-normalized duration).
   * Header-only — no sample decoding — so a 100 TB media scan extracts
   * metadata at O(header) per row.
   */
  object AvCodecs {

    /** Probed metadata: WAV fills every field; MP4's mvhd carries only
      * the presentation duration (width/height live in per-track tkhd
      * boxes, sample rate in stsd — out of scope for the movie header). */
    final case class AvMeta(mime: String, sampleRate: Option[Int],
                            channels: Option[Int], durationMs: Option[Long])

    private def ascii(b: Array[Byte], i: Int, n: Int): String =
      if (i < 0 || i + n > b.length) ""
      else new String(b, i, n, java.nio.charset.StandardCharsets.US_ASCII)
    private def u16le(b: Array[Byte], i: Int): Int =
      ((b(i + 1) & 0xFF) << 8) | (b(i) & 0xFF)
    private def u32le(b: Array[Byte], i: Int): Long =
      ((b(i + 3) & 0xFFL) << 24) | ((b(i + 2) & 0xFFL) << 16) |
        ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)
    private def u32be(b: Array[Byte], i: Int): Long =
      ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
        ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
    private def u64be(b: Array[Byte], i: Int): Long =
      (u32be(b, i) << 32) | u32be(b, i + 4)

    /** WAV (RIFF §4): "RIFF" + size + "WAVE", then word-aligned chunks of
      * fourcc + LE u32 size. The "fmt " chunk carries channels (u16le@+2),
      * sample rate (u32le@+4) and byte rate (u32le@+8) of its payload; the
      * "data" chunk's DECLARED size over the byte rate is the duration —
      * header math only, valid even on a truncated capture. */
    private def wav(b: Array[Byte]): Option[AvMeta] = {
      if (b.length < 12 || ascii(b, 0, 4) != "RIFF" || ascii(b, 8, 4) != "WAVE")
        return None
      var i = 12L
      var fmt: Option[(Int, Int, Long)] = None // (channels, rate, byteRate)
      var dataLen: Option[Long] = None
      while (i + 8 <= b.length && (fmt.isEmpty || dataLen.isEmpty)) {
        val at = i.toInt
        val id = ascii(b, at, 4)
        val size = u32le(b, at + 4)
        if (id == "fmt ") {
          if (size < 16 || i + 24 > b.length) return None
          val ch = u16le(b, at + 10)
          val rate = u32le(b, at + 12)
          val byteRate = u32le(b, at + 16)
          if (ch < 1 || rate < 1 || rate > Int.MaxValue || byteRate < 1) return None
          fmt = Some((ch, rate.toInt, byteRate))
        } else if (id == "data") dataLen = Some(size)
        i += 8 + size + (size & 1) // chunks are word-aligned
      }
      for ((ch, rate, br) <- fmt; dl <- dataLen)
        yield AvMeta("audio/wav", Some(rate), Some(ch), Some(dl * 1000L / br))
    }

    /** ISO-BMFF box spans in [start, end): (fourcc, payloadStart,
      * payloadEnd). Handles the 64-bit largesize (size==1) and
      * to-end-of-enclosure (size==0) forms; stops at the first malformed
      * or truncated box — a prefix either parses cleanly or not at all. */
    private def boxSpans(b: Array[Byte], start: Long, end: Long): Seq[(String, Long, Long)] = {
      val out = scala.collection.mutable.ListBuffer.empty[(String, Long, Long)]
      var i = start
      while (i + 8 <= end) {
        val size0 = u32be(b, i.toInt)
        val typ = ascii(b, i.toInt + 4, 4)
        var hdr = 8L
        val size: Long =
          if (size0 == 1) {
            if (i + 16 > end) return out.toSeq
            hdr = 16; u64be(b, i.toInt + 8)
          } else if (size0 == 0) end - i
          else size0
        if (size < hdr || size > end - i) return out.toSeq
        out += ((typ, i + hdr, i + size))
        i += size
      }
      out.toSeq
    }

    /** mvhd (ISO 14496-12 §8.2.2): version byte selects the layout —
      * v0: timescale u32@+12, duration u32@+16 of the payload;
      * v1: timescale u32@+20, duration u64@+24 (64-bit times). */
    private def mvhd(b: Array[Byte], ps: Long, pe: Long): Option[AvMeta] = {
      if (ps + 4 > pe) return None
      val (tsOff, durLen) = (b(ps.toInt) & 0xFF) match {
        case 0 => (12, 4)
        case 1 => (20, 8)
        case _ => return None
      }
      if (ps + tsOff + 4 + durLen > pe) return None
      val timescale = u32be(b, (ps + tsOff).toInt)
      val duration =
        if (durLen == 4) u32be(b, (ps + tsOff + 4).toInt)
        else u64be(b, (ps + tsOff + 4).toInt)
      if (timescale < 1 || duration < 0 || duration > Long.MaxValue / 1000) None
      else Some(AvMeta("video/mp4", None, None, Some(duration * 1000L / timescale)))
    }

    /** MP4: an `ftyp` box must lead (brand sniff), then the movie header
      * is moov/mvhd wherever moov sits in the top-level box list. */
    private def mp4(b: Array[Byte]): Option[AvMeta] = {
      if (b.length < 12 || ascii(b, 4, 4) != "ftyp") return None
      boxSpans(b, 0L, b.length.toLong)
        .collectFirst { case ("moov", s, e) =>
          boxSpans(b, s, e).collectFirst { case ("mvhd", ps, pe) => mvhd(b, ps, pe) }.flatten
        }.flatten
    }

    /** Metadata when the payload is a recognized AV container; None
      * otherwise (caller decides the fallback). */
    def probe(bytes: Array[Byte]): Option[AvMeta] = wav(bytes).orElse(mp4(bytes))
  }

  /**
   * Deterministic byte-level kernels. These are real operations on real
   * bytes (subsampling, slicing, position-weighted fingerprinting) — not
   * stubs — but `features` is a byte fingerprint, not a learned visual
   * embedding; it is deliberately SQL-replayable so correctness oracles
   * can reproduce it exactly.
   */
  object ByteKernels {
    /** Mean byte value normalized to [0,1] — a luma PROXY over the
      * compressed payload (true luma needs a pixel decoder). */
    def byteMean(bytes: Array[Byte]): Double = {
      val n = bytes.length
      if (n == 0) 0.0 else bytes.map(b => (b & 0xFF).toDouble).sum / n / 255.0
    }

    /** Deterministic byte subsample to ≤ targetBytes. The stride rounds
      * UP — a floor stride of 1 for inputs under 2×target would return
      * the input unreduced (up to 2× the asked-for size). */
    def resize(bytes: Array[Byte], targetBytes: Int): Array[Byte] =
      if (bytes.length <= targetBytes) bytes
      else {
        val stride = (bytes.length + targetBytes - 1) / targetBytes
        bytes.indices.collect { case i if i % stride == 0 => bytes(i) }.toArray
      }

    /** Sample a payload into k contiguous byte slices (the frame-sample
      * batch shape; a real video decoder slots in per slice). */
    def frameSample(bytes: Array[Byte], k: Int): Seq[Array[Byte]] =
      if (bytes.isEmpty) Seq.fill(k)(Array.emptyByteArray)
      else (0 until k).map { i =>
        val start = (bytes.length.toLong * i / k).toInt
        val end = (bytes.length.toLong * (i + 1) / k).toInt
        java.util.Arrays.copyOfRange(bytes, start, math.max(end, start + 1))
      }

    /** d-dim fingerprint from strided position-weighted byte sums.
      * Deliberately free of wrapping-overflow arithmetic so the exact
      * values are reproducible in plain SQL for correctness oracles:
      * k_j = (Σ_{i ≡ j (mod d)} byte_i · (i+1)) mod 1000, f_j = k_j/1000. */
    def features(bytes: Array[Byte], d: Int = 16): Array[Float] = {
      // overflow precondition, enforced loudly: worst case Σ ≈ 255·n²/(2d)
      // stays under Long.MaxValue only for n ≲ 1e9; a silent wrap would
      // produce negative (v % 1000) values and break the SQL-replayable
      // contract. Real payloads at this size belong in frameSample/resize
      // first.
      require(bytes.length <= (1 << 30),
        s"features: payload of ${bytes.length} bytes exceeds the 1 GiB " +
          "no-overflow bound; resize or frame-sample first")
      val acc = new Array[Long](d)
      var i = 0
      while (i < bytes.length) {
        acc(i % d) += (bytes(i) & 0xFF).toLong * (i + 1)
        i += 1
      }
      acc.map(v => (v % 1000).toFloat / 1000.0f)
    }
  }

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("mean_luma", DoubleType, nullable = true),
    StructField("feature", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("duration_ms", LongType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true)))

  /**
   * Decode + feature-extract over partitions of binary payloads
   * (iterator-of-rows per partition, constant memory). Recognized image
   * containers (JPEG/PNG/GIF) get their REAL mime + header dimensions via
   * ImageCodecs; recognized AV containers (WAV/MP4) get their REAL mime +
   * duration/sample-rate/channels via AvCodecs; unrecognized payloads
   * keep their declared meta mime and fall back to deterministic
   * synthetic dimensions derived from byte stats (width = n mod 1024,
   * height = n/1024 mod 1024 + 1, both ≥ 1) so synthetic test corpora
   * stay SQL-replayable.
   */
  def extractFeatures(media: DataFrame): DataFrame = {
    val enc = Encoders.row(featureSchema)
    media.select(col("media_id"), col("payload"), col("meta.mime").as("mime"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val luma = ByteKernels.byteMean(bytes)
          val feat = ByteKernels.features(bytes).toSeq
          ImageCodecs.dimensions(bytes) match {
            case Some((mime, w, h)) =>
              Row(id, mime, w, h, luma, feat, null, null, null)
            case None => AvCodecs.probe(bytes) match {
              case Some(av) =>
                Row(id, av.mime, null, null, luma, feat,
                  av.durationMs.map(Long.box).orNull,
                  av.sampleRate.map(Int.box).orNull,
                  av.channels.map(Int.box).orNull)
              case None =>
                val n = bytes.length
                Row(id, r.getString(2), math.max(1, n % 1024),
                  math.max(1, (n / 1024) % 1024 + 1), luma, feat,
                  null, null, null)
            }
          }
        }
      }(enc)
  }

  /** Synthesize a deterministic media table for tests/benches. */
  def syntheticMedia(spark: SparkSession, n: Int, bytesPerRow: Int = 4096): DataFrame = {
    spark.range(n.toLong).select(col("id").as("media_id"))
      .withColumn("payload",
        // deterministic pseudo-random bytes: sha2 chain sliced to length
        expr(s"""unhex(substring(repeat(sha2(cast(media_id as string), 256), ${bytesPerRow / 32 + 1}), 1, ${bytesPerRow * 2}))"""))
      .withColumn("meta", struct(lit("image/fake").as("mime"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms")))
  }
}
