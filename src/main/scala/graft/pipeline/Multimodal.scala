package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract / resize /
  * frame-sample plumbing.
  *
  * The decode step is REAL for every format the stock JVM can decode —
  * PNG/JPEG/BMP/GIF through ImageIO ([[imageDecode]]) and RIFF/WAVE PCM
  * through a direct header parse ([[wavDecode]]) — dispatched by magic
  * bytes. Video goes through the pluggable [[VideoDecoder]] seam:
  * [[MjpegAviDecoder]] (pure JVM: RIFF walk + ImageIO JPEG frames) proves
  * the hook against a real container; codec formats beyond it default to
  * the deterministic stub [[fakeDecode]] until a deployment plugs an
  * FFmpeg/JNI decoder into the same seam — the asset schema, per-partition
  * batched execution, partitioning contract and output schema are
  * unchanged either way.
  *
  * Scale notes: decode runs as `mapPartitions` so each task amortizes any
  * per-library init cost across its whole partition (the same reason
  * PySpark uses mapInPandas here); payloads never hit the driver; a
  * `repartition` by size-bucket upstream balances skew from mixed asset
  * sizes; image features sample a bounded ≤64×64 grid so per-asset work
  * does not grow with megapixels.
  */
object Multimodal {

  /** Canonical multimodal asset schema: opaque payload + typed metadata. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("source", StringType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("mime", StringType, nullable = false))), nullable = false)))

  /** Wrap any (id, binary) DataFrame into the asset schema. */
  def toAssets(df: DataFrame, idCol: String, binCol: String,
               modality: String, source: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("asset_id"),
      lit(modality).as("modality"),
      col(binCol).cast("binary").as("payload"),
      struct(lit(source).as("source"),
             length(col(binCol).cast("binary")).cast("long").as("n_bytes"),
             lit(s"application/x-$modality").as("mime")).as("meta"))

  /** Decoded-image row produced by the decode stage. */
  val decodedSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("feature", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** STUB decoder — deterministic fake. A real implementation replaces the
    * body with e.g. `ImageIO.read(new ByteArrayInputStream(bytes))`; the
    * signature (bytes in, dims + feature vector out) is the production
    * contract. Derivation is pure so the whole pipeline is testable. */
  def fakeDecode(bytes: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val n = bytes.length
    val width = 64 + (math.abs(n * 31) % 1024)
    val height = 64 + (math.abs(n * 17) % 1024)
    val channels = 3
    // "feature": 8 deterministic byte-statistics — stands in for a CNN embedding
    val feature = new Array[Float](8)
    var i = 0
    while (i < n) { feature(i % 8) += (bytes(i) & 0xff) / 255.0f; i += 1 }
    if (n > 0) { var j = 0; while (j < 8) { feature(j) /= n; j += 1 } }
    (width, height, channels, feature)
  }

  // --------------------------------------------------- real JVM decoders

  private def magic(b: Array[Byte], at: Int, bytes: Int*): Boolean =
    b.length >= at + bytes.length &&
      bytes.zipWithIndex.forall { case (x, i) => (b(at + i) & 0xff) == x }

  /** PNG / JPEG / BMP / GIF by magic bytes — formats ImageIO decodes. */
  def isImage(b: Array[Byte]): Boolean =
    magic(b, 0, 0x89, 0x50, 0x4e, 0x47) || magic(b, 0, 0xff, 0xd8, 0xff) ||
      magic(b, 0, 0x42, 0x4d) || magic(b, 0, 0x47, 0x49, 0x46)

  /** RIFF....WAVE container. */
  def isWav(b: Array[Byte]): Boolean =
    magic(b, 0, 0x52, 0x49, 0x46, 0x46) && magic(b, 8, 0x57, 0x41, 0x56, 0x45)

  /** REAL image decode (JDK ImageIO — no external libs): true dims and
    * channel count, plus an 8-dim feature [meanR, meanG, meanB, meanLuma,
    * stdLuma, aspect, log10(w·h), fillRatio] sampled on a bounded ≤64×64
    * grid (constant work per asset regardless of resolution). */
  def imageDecode(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Float])] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val ch = img.getColorModel.getNumComponents
        val sx = math.max(1, w / 64); val sy = math.max(1, h / 64)
        var n = 0; var sr = 0.0; var sg = 0.0; var sb = 0.0
        var sl = 0.0; var sl2 = 0.0; var nonZero = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
            val l = 0.299 * r + 0.587 * g + 0.114 * b
            sr += r; sg += g; sb += b; sl += l; sl2 += l * l
            if ((p & 0xffffff) != 0) nonZero += 1
            n += 1; x += sx
          }
          y += sy
        }
        val meanL = sl / n
        val varL = math.max(0.0, sl2 / n - meanL * meanL)
        Some((w, h, ch, Array(
          (sr / n / 255.0).toFloat, (sg / n / 255.0).toFloat,
          (sb / n / 255.0).toFloat, (meanL / 255.0).toFloat,
          (math.sqrt(varL) / 255.0).toFloat, (w.toDouble / h).toFloat,
          math.log10(w.toDouble * h).toFloat, nonZero.toFloat / n)))
      }
    } catch { case _: Exception => None }

  /** REAL WAV (RIFF PCM) decode — direct chunk walk, no codec needed:
    * width = sample frames, height = 1, channels from the fmt chunk;
    * feature = RMS energy of 8 equal time segments (16-bit PCM) — the
    * audio analogue of the image feature vector. */
  def wavDecode(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Float])] =
    try {
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var pos = 12 // past RIFF size WAVE
      var channels = 0; var bits = 0
      var dataOff = -1; var dataLen = 0
      while (pos + 8 <= bytes.length && (dataOff < 0 || channels == 0)) {
        val id = new String(bytes, pos, 4, "US-ASCII")
        val len = bb.getInt(pos + 4)
        if (id == "fmt ") { channels = bb.getShort(pos + 10); bits = bb.getShort(pos + 22) }
        else if (id == "data") { dataOff = pos + 8; dataLen = len }
        pos += 8 + len + (len & 1)
      }
      if (channels <= 0 || bits != 16 || dataOff < 0) None
      else {
        val dl = math.min(dataLen, bytes.length - dataOff)
        val frames = dl / (2 * channels)
        val feature = new Array[Float](8)
        if (frames > 0) {
          val counts = new Array[Int](8)
          var f = 0
          while (f < frames) {
            val seg = (f.toLong * 8 / frames).toInt
            val s = bb.getShort(dataOff + f * 2 * channels) / 32768.0
            feature(seg) += (s * s).toFloat; counts(seg) += 1
            f += 1
          }
          var j = 0
          while (j < 8) {
            if (counts(j) > 0) feature(j) = math.sqrt(feature(j) / counts(j)).toFloat
            j += 1
          }
        }
        Some((frames, 1, channels, feature))
      }
    } catch { case _: Exception => None }

  /** 64-bit perceptual audio hash: mean-square energy of 65 equal time
    * segments (first channel, 16-bit PCM), one bit per adjacent-segment
    * energy gradient — the 1-D analogue of the image [[dHash64]]. Robust
    * to uniform gain change (scaling every segment preserves gradient
    * signs) and to resampling (segments are time-relative, so the same
    * envelope at any sample rate hashes alike). None for non-WAV bytes or
    * clips shorter than 65 frames. */
  def aHash64(bytes: Array[Byte]): Option[Long] =
    try {
      if (!isWav(bytes)) None
      else {
        val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var pos = 12; var channels = 0; var bits = 0
        var dataOff = -1; var dataLen = 0
        while (pos + 8 <= bytes.length && (dataOff < 0 || channels == 0)) {
          val id = new String(bytes, pos, 4, "US-ASCII")
          val len = bb.getInt(pos + 4)
          if (id == "fmt ") { channels = bb.getShort(pos + 10); bits = bb.getShort(pos + 22) }
          else if (id == "data") { dataOff = pos + 8; dataLen = len }
          pos += 8 + len + (len & 1)
        }
        if (channels <= 0 || bits != 16 || dataOff < 0) None
        else {
          val dl = math.min(dataLen, bytes.length - dataOff)
          val frames = dl / (2 * channels)
          if (frames < 65) None
          else {
            val seg = new Array[Double](65); val cnt = new Array[Int](65)
            var f = 0
            while (f < frames) {
              val s = bb.getShort(dataOff + f * 2 * channels) / 32768.0
              val k = (f.toLong * 65 / frames).toInt
              seg(k) += s * s; cnt(k) += 1
              f += 1
            }
            var hash = 0L; var i = 0
            while (i < 64) {
              val a = if (cnt(i) > 0) seg(i) / cnt(i) else 0.0
              val b = if (cnt(i + 1) > 0) seg(i + 1) / cnt(i + 1) else 0.0
              if (a < b) hash |= 1L << i
              i += 1
            }
            Some(hash)
          }
        }
      }
    } catch { case _: Exception => None }

  /** Per-asset 64-bit signature frame (id, sh) — shared mapPartitions
    * plumbing behind [[dHashes]] and [[audioHashes]]. */
  private def hashFrame(assets: DataFrame,
                        f: Array[Byte] => Option[Long]): DataFrame = {
    val enc = ExpressionEncoder(RowEncoder.encoderFor(dHashSchema))
    assets.select("asset_id", "payload").mapPartitions { it =>
      it.flatMap { r =>
        f(r.getAs[Array[Byte]]("payload")).map(sh => Row(r.getLong(0), sh))
      }
    }(enc)
  }

  /** Per-asset audio-hash frame (id, sh) — same batched contract as
    * [[dHashes]]; undecodable clips drop out. */
  def audioHashes(assets: DataFrame): DataFrame = hashFrame(assets, aHash64)

  /** Audio near-duplicate pairs: [[aHash64]] per clip, then the shared
    * pigeonhole blocking ([[Dedup.hammingPairs]]) — identical machinery
    * and guarantees as [[imageNearDup]], over the energy-envelope
    * signature. */
  def audioNearDup(assets: DataFrame, maxDist: Int = 4,
                   bucketCap: Int = 8192): DataFrame = {
    import graft.rel.Checkpoint.PinOps
    Dedup.hammingPairs(audioHashes(assets).pin(), maxDist, bucketCap)
  }

  /** 64-bit perceptual VIDEO hash: the [[dHashImage]] of the decoder's
    * first decodable frame (the thumbnail-hash signature — re-encoded or
    * re-contained copies of the same footage keep their first frame's
    * gradient structure). The frame comes through the pluggable
    * [[VideoDecoder.firstFrame]] seam — [[MjpegAviDecoder]] by default —
    * so a codec plugin upgrades the hash/near-dup path and the decode
    * path together. None when the decoder declines the bytes. */
  def vHash64(bytes: Array[Byte],
              video: VideoDecoder = BuiltinVideoDecoders): Option[Long] =
    try video.firstFrame(bytes).map(dHashImage)
    catch { case _: Exception => None }

  /** Per-asset video-hash frame (id, sh) — same batched contract as
    * [[dHashes]]; undecodable clips drop out. */
  def videoHashes(assets: DataFrame,
                  video: VideoDecoder = BuiltinVideoDecoders): DataFrame =
    hashFrame(assets, vHash64(_, video))

  /** Video near-duplicate pairs: [[vHash64]] per clip, then the shared
    * pigeonhole blocking ([[Dedup.hammingPairs]]) — identical machinery
    * and guarantees as [[imageNearDup]]/[[audioNearDup]], over the
    * first-frame dHash. */
  def videoNearDup(assets: DataFrame, maxDist: Int = 4,
                   bucketCap: Int = 8192,
                   video: VideoDecoder = BuiltinVideoDecoders): DataFrame = {
    import graft.rel.Checkpoint.PinOps
    Dedup.hammingPairs(videoHashes(assets, video).pin(), maxDist, bucketCap)
  }

  // ------------------------------------------------- video decoder seam

  /** Result of a video decode: frame dims/channels from the stream, the
    * frame count, and a feature vector (the image feature averaged over
    * sampled frames). */
  final case class VideoInfo(width: Int, height: Int, channels: Int,
                             nFrames: Int, feature: Array[Float])

  /** The production hook for codec video. Implementations must be
    * Serializable (the decoder ships inside the decode task closure) and
    * return None for payloads they don't handle — dispatch then falls
    * through to the deterministic stub, so a partially-capable decoder
    * degrades gracefully instead of failing the partition. A real
    * deployment plugs an FFmpeg/JNI implementation here; the container
    * ships [[MjpegAviDecoder]] (pure JVM) as the proof of the seam. */
  trait VideoDecoder extends Serializable {
    def decode(bytes: Array[Byte]): Option[VideoInfo]
    /** First decodable frame as pixels — feeds [[vHash64]]/[[videoNearDup]]
      * so one plugin upgrades decode AND perceptual dedup. Default None:
      * a decoder that only features-extracts still works; its clips just
      * have no perceptual hash. */
    def firstFrame(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = None
  }

  /** Default: this container has no video codec — decline everything
    * (dispatch falls through to [[fakeDecode]], the documented stub). */
  object StubVideoDecoder extends VideoDecoder {
    def decode(bytes: Array[Byte]): Option[VideoInfo] = None
  }

  /** REAL video decode for the one container format the stock JVM can
    * handle end-to-end: MJPEG-in-AVI. The RIFF walk mirrors [[wavDecode]]
    * (AVI is RIFF like WAV); each `..dc`/`..db` chunk inside the `movi`
    * LIST is a standalone JPEG frame, decoded with the SAME bounded-grid
    * ImageIO path as still images ([[imageDecode]]). Work per asset is
    * bounded: dims from the first decodable frame, feature averaged over
    * ≤8 evenly-sampled frames regardless of video length. */
  /** RIFF/AVI walk shared by [[MjpegAviDecoder]] and [[vHash64]]: the
    * (offset, length) of every `..dc`/`..db` frame chunk inside the file,
    * empty for non-AVI bytes. */
  private def aviFrames(bytes: Array[Byte]): Seq[(Int, Int)] = {
    if (!(magic(bytes, 0, 0x52, 0x49, 0x46, 0x46) &&
          magic(bytes, 8, 0x41, 0x56, 0x49, 0x20))) return Nil
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // (off, len)
    def walk(start: Int, end: Int): Unit = {
      var pos = start
      var ok = true
      while (ok && pos + 8 <= end) {
        val id = new String(bytes, pos, 4, "US-ASCII")
        val len = bb.getInt(pos + 4)
        if (len < 0) ok = false
        else {
          if (id == "LIST" && pos + 12 <= end)
            walk(pos + 12, math.min(end, pos + 8 + len))
          else if ((id.endsWith("dc") || id.endsWith("db")) && len > 0)
            frames += ((pos + 8, math.min(len, end - pos - 8)))
          pos += 8 + len + (len & 1)
        }
      }
    }
    walk(12, bytes.length)
    frames.toSeq
  }

  object MjpegAviDecoder extends VideoDecoder {
    def decode(bytes: Array[Byte]): Option[VideoInfo] = try {
      val frames = aviFrames(bytes)
      if (frames.isEmpty) return None
      // ≤8 evenly-sampled frames through the bounded-grid image path
      val stride = math.max(1, frames.length / 8)
      val sampled = frames.indices.by(stride).take(8)
        .flatMap { i =>
          val (off, len) = frames(i)
          imageDecode(java.util.Arrays.copyOfRange(bytes, off, off + len))
        }
      if (sampled.isEmpty) return None
      val (w, h, ch, _) = sampled.head
      val feature = new Array[Float](8)
      sampled.foreach { case (_, _, _, f) =>
        var j = 0; while (j < 8) { feature(j) += f(j); j += 1 }
      }
      var j = 0; while (j < 8) { feature(j) /= sampled.length; j += 1 }
      Some(VideoInfo(w, h, ch, frames.length, feature))
    } catch { case _: Exception => None }

    override def firstFrame(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try {
        aviFrames(bytes).iterator.flatMap { case (off, len) =>
          // per-frame guard: a truncated/corrupt early frame (ImageIO
          // THROWS, not just returns null) must fall through to the next
          // decodable frame, not abort the whole scan
          try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
            java.util.Arrays.copyOfRange(bytes, off, off + len))))
          catch { case _: Exception => None }
        }.nextOption()
      } catch { case _: Exception => None }
  }

  // ---------------------------------------- QuickTime/MOV (Photo-JPEG)

  /** QuickTime atom walk for Photo-JPEG video tracks ('jpeg' sample
    * format — each sample is a standalone JFIF the stock JVM decodes):
    * the (offset, size) of every video sample, resolved through the
    * classic stbl tables — stsd (codec gate), stco/co64 (chunk offsets),
    * stsc (sample→chunk runs), stsz (sample sizes). Empty for non-MOV
    * bytes, codecs the JVM can't decode (H.264/VP9 still fall through the
    * seam), or malformed tables. Offsets are absolute file offsets, the
    * QuickTime convention. */
  private def movFrames(bytes: Array[Byte]): Seq[(Int, Int)] = try {
    if (bytes.length < 16) return Nil
    val bb = java.nio.ByteBuffer.wrap(bytes) // QuickTime is big-endian
    def typ(p: Int): String = new String(bytes, p + 4, 4, "ISO-8859-1")
    // (type, bodyStart, bodyEnd) of each child atom in [start, end)
    def children(start: Int, end: Int): Seq[(String, Int, Int)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
      var p = start
      while (p + 8 <= end) {
        var size = bb.getInt(p).toLong & 0xffffffffL
        var hdr = 8
        if (size == 1 && p + 16 <= end) { size = bb.getLong(p + 8); hdr = 16 }
        else if (size == 0) size = (end - p).toLong
        if (size < hdr || p + size > end) return out.toSeq // malformed tail
        out += ((typ(p), p + hdr, p + size.toInt))
        p += size.toInt
      }
      out.toSeq
    }
    val top = children(0, bytes.length)
    val known = Set("ftyp", "moov", "mdat", "free", "skip", "wide", "pnot")
    if (top.isEmpty || !known.contains(top.head._1)) return Nil
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    for ((_, ms, me) <- top.filter(_._1 == "moov");
         (_, ts, te) <- children(ms, me).filter(_._1 == "trak");
         (_, ds, de) <- children(ts, te).filter(_._1 == "mdia");
         (_, ns, ne) <- children(ds, de).filter(_._1 == "minf");
         (_, ss, se) <- children(ns, ne).filter(_._1 == "stbl")) {
      val leaves = children(ss, se).map(c => c._1 -> (c._2, c._3)).toMap
      val fmt = leaves.get("stsd").map { case (p, _) =>
        new String(bytes, p + 12, 4, "ISO-8859-1") }.getOrElse("")
      if (fmt == "jpeg") {
        val (szP, _) = leaves("stsz")
        val uniform = bb.getInt(szP + 4)
        val nSamples = bb.getInt(szP + 8)
        def sizeOf(i: Int): Int =
          if (uniform != 0) uniform else bb.getInt(szP + 12 + 4 * i)
        val chunkOffsets: Array[Long] = leaves.get("stco") match {
          case Some((p, _)) =>
            Array.tabulate(bb.getInt(p + 4))(i =>
              bb.getInt(p + 8 + 4 * i).toLong & 0xffffffffL)
          case None =>
            val (p, _) = leaves("co64")
            Array.tabulate(bb.getInt(p + 4))(i => bb.getLong(p + 8 + 8 * i))
        }
        val (scP, _) = leaves("stsc")
        val runs = Array.tabulate(bb.getInt(scP + 4))(i =>
          (bb.getInt(scP + 8 + 12 * i), bb.getInt(scP + 12 + 12 * i)))
        def samplesInChunk(c: Int): Int = // 1-based chunk index
          runs.foldLeft(0) { case (acc, (first, spc)) =>
            if (first <= c) spc else acc }
        var si = 0
        chunkOffsets.indices.foreach { ci =>
          var off = chunkOffsets(ci)
          var k = 0
          val spc = samplesInChunk(ci + 1)
          while (k < spc && si < nSamples) {
            val sz = sizeOf(si)
            if (off >= 0 && sz > 0 && off + sz <= bytes.length)
              frames += ((off.toInt, sz))
            off += sz; si += 1; k += 1
          }
        }
      }
    }
    frames.toSeq
  } catch { case _: Exception => Nil }

  /** REAL video decode for the second container the stock JVM handles
    * end-to-end: Photo-JPEG in QuickTime/MOV. Same bounded work shape as
    * [[MjpegAviDecoder]] — dims from the first decodable frame, feature
    * averaged over ≤8 evenly-sampled frames, perceptual hash from the
    * first frame. Compressed inter-frame codecs in a MOV wrapper
    * (H.264 etc.) are NOT decodable here and fall through the seam. */
  object MjpegMovDecoder extends VideoDecoder {
    def decode(bytes: Array[Byte]): Option[VideoInfo] = try {
      val frames = movFrames(bytes)
      if (frames.isEmpty) return None
      val stride = math.max(1, frames.length / 8)
      val sampled = frames.indices.by(stride).take(8)
        .flatMap { i =>
          val (off, len) = frames(i)
          imageDecode(java.util.Arrays.copyOfRange(bytes, off, off + len))
        }
      if (sampled.isEmpty) return None
      val (w, h, ch, _) = sampled.head
      val feature = new Array[Float](8)
      sampled.foreach { case (_, _, _, f) =>
        var j = 0; while (j < 8) { feature(j) += f(j); j += 1 }
      }
      var j = 0; while (j < 8) { feature(j) /= sampled.length; j += 1 }
      Some(VideoInfo(w, h, ch, frames.length, feature))
    } catch { case _: Exception => None }

    override def firstFrame(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try {
        movFrames(bytes).iterator.flatMap { case (off, len) =>
          try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
            java.util.Arrays.copyOfRange(bytes, off, off + len))))
          catch { case _: Exception => None }
        }.nextOption()
      } catch { case _: Exception => None }
  }

  /** The DEFAULT video path: every built-in pure-JVM container decoder in
    * sequence (MJPEG-in-AVI, then Photo-JPEG-in-MOV); first handler wins,
    * anything neither handles falls to the deterministic stub. Arbitrary
    * compressed codecs (H.264/VP9/AV1) remain bring-your-own-decoder
    * through the [[VideoDecoder]] seam — a deployment with a JNI/FFmpeg
    * binding plugs it in here without touching the pipeline. */
  object BuiltinVideoDecoders extends VideoDecoder {
    def decode(bytes: Array[Byte]): Option[VideoInfo] =
      MjpegAviDecoder.decode(bytes).orElse(MjpegMovDecoder.decode(bytes))
    override def firstFrame(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
      MjpegAviDecoder.firstFrame(bytes).orElse(MjpegMovDecoder.firstFrame(bytes))
  }

  /** Dispatch: real decoders by magic bytes; video payloads go through the
    * pluggable seam — [[BuiltinVideoDecoders]] by DEFAULT, so every
    * container the stock JVM can fully decode takes the real path out of
    * the box; anything unhandled falls to the deterministic stub. */
  def decodeBytes(bytes: Array[Byte],
                  video: VideoDecoder = BuiltinVideoDecoders): (Int, Int, Int, Array[Float]) =
    (if (isImage(bytes)) imageDecode(bytes)
     else if (isWav(bytes)) wavDecode(bytes)
     else video.decode(bytes).map(v => (v.width, v.height, v.channels, v.feature)))
      .getOrElse(fakeDecode(bytes))

  /** Decode stage: per-partition batched map over assets → decoded rows.
    * (Scala analogue of mapInPandas: one iterator per partition, library
    * init once per task, rows streamed not materialized.) Pass a
    * [[VideoDecoder]] to swap the video path — [[MjpegAviDecoder]] by
    * default; [[StubVideoDecoder]] opts back into the deterministic
    * fallback for every video payload. */
  def decode(assets: DataFrame,
             video: VideoDecoder = BuiltinVideoDecoders): DataFrame = {
    val enc = ExpressionEncoder(RowEncoder.encoderFor(decodedSchema))
    assets.select("asset_id", "payload").mapPartitions { it =>
      // codec-library init would go HERE, once per task
      it.map { r =>
        val (w, h, c, f) = decodeBytes(r.getAs[Array[Byte]]("payload"), video)
        Row(r.getLong(0), w, h, c, f.toSeq)
      }
    }(enc)
  }

  /** 64-bit perceptual difference hash (dHash) of an image payload:
    * grayscale-resample onto a 9×8 luma grid and emit one bit per
    * horizontal gradient sign. Recompressed, resized, or lightly edited
    * copies land within a few bits of each other — the standard
    * training-set image near-dup signature. Sampling is bounded (≤8×8
    * pixels averaged per grid cell), so per-asset work is constant
    * regardless of resolution. None for undecodable bytes. */
  def dHash64(bytes: Array[Byte]): Option[Long] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None else Some(dHashImage(img))
    } catch { case _: Exception => None }

  /** [[dHash64]] over an already-decoded frame — the shared kernel, also
    * the hash entry point for [[VideoDecoder.firstFrame]] plugins whose
    * container holds raw (never ImageIO-encoded) pixels. */
  def dHashImage(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    // mean luma per cell of the 9×8 grid, ≤8×8 samples per cell
    val grid = Array.ofDim[Double](8, 9)
    val cnt = Array.ofDim[Int](8, 9)
    val gw = 9 * 8; val gh = 8 * 8 // 72×64 bounded sample lattice
    var gy = 0
    while (gy < gh) {
      val y = gy * h / gh
      var gx = 0
      while (gx < gw) {
        val x = gx * w / gw
        val p = img.getRGB(x, y)
        val l = 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
          0.114 * (p & 0xff)
        grid(gy / 8)(gx / 8) += l
        cnt(gy / 8)(gx / 8) += 1
        gx += 1
      }
      gy += 1
    }
    var hash = 0L; var bit = 0; var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        val a = grid(cy)(cx) / cnt(cy)(cx)
        val b = grid(cy)(cx + 1) / cnt(cy)(cx + 1)
        if (a < b) hash |= 1L << bit
        bit += 1; cx += 1
      }
      cy += 1
    }
    hash
  }

  private val dHashSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("sh", LongType, nullable = false)))

  /** Per-asset dHash frame (id, sh) — mapPartitions with the same
    * batched-decode contract as [[decode]]: payloads never hit the driver,
    * decoder init amortizes per task. Undecodable assets drop out (no
    * hash → no pairs), they do not poison the join. */
  def dHashes(assets: DataFrame): DataFrame = hashFrame(assets, dHash64)

  /** Deterministic text→PNG renderer for the contract/scale harnesses: an
    * INJECTIVE pixel layout — 2 length-header pixels, one gray pixel per
    * byte, then index·length-keyed filler — so rendered-image equality ⇔
    * input-string equality (callers pass single-byte printable-ASCII
    * prefixes ≤ side²−2 chars). That equivalence is what lets the image
    * dedup contract gate derive ground truth from the TEXT in SQL. */
  /** The injective gray-pixel layout shared by the image and video
    * renderers: 2 length-header pixels, one pixel per byte, then
    * index·length-keyed filler — pixel equality ⇔ input-string equality. */
  private def injectiveImage(bytes: Array[Byte], side: Int): java.awt.image.BufferedImage = {
    val cap = side * side - 2
    val n = math.min(bytes.length, cap)
    val img = new java.awt.image.BufferedImage(side, side,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    def set(i: Int, l: Int): Unit =
      img.setRGB(i % side, i / side, (l << 16) | (l << 8) | l)
    set(0, (n >> 8) & 0xff); set(1, n & 0xff)
    var i = 0
    while (i < cap) {
      set(i + 2, if (i < n) bytes(i) & 0xff else (i * 31 + n * 7) & 0xff)
      i += 1
    }
    img
  }

  def renderTextImages(df: DataFrame, idCol: String, textCol: String,
                       side: Int = 32): DataFrame = {
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("img", BinaryType, nullable = false)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(schema))
    df.select(col(idCol).cast("long").as("asset_id"), col(textCol))
      .mapPartitions { it =>
        it.map { r =>
          val img = injectiveImage(r.getString(1).getBytes("UTF-8"), side)
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          Row(r.getLong(0), bos.toByteArray)
        }
      }(enc)
  }

  /** Deterministic text→MJPEG-AVI renderer — the video member of the
    * render family: `frames` JPEG encodes of the SAME injective pixel
    * layout as [[renderTextImages]], wrapped in a RIFF/AVI `movi` LIST of
    * `00dc` chunks (the container [[MjpegAviDecoder]] decodes). JPEG is
    * lossy, so the layout's injectivity weakens to DETERMINISM — equal
    * prefixes still produce byte-identical videos (hamming 0 through any
    * perceptual hash), which is exactly what the plants contract needs. */
  def renderTextAvis(df: DataFrame, idCol: String, textCol: String,
                     side: Int = 32, frames: Int = 3): DataFrame = {
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("avi", BinaryType, nullable = false)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(schema))
    df.select(col(idCol).cast("long").as("asset_id"), col(textCol))
      .mapPartitions { it =>
        it.map { r =>
          val img = injectiveImage(r.getString(1).getBytes("UTF-8"), side)
          val jb = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpg", jb)
          val jpeg = jb.toByteArray
          def chunk(id: String, body: Array[Byte]): Array[Byte] = {
            val o = new java.io.ByteArrayOutputStream()
            val h = java.nio.ByteBuffer.allocate(8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            h.put(id.getBytes("US-ASCII")); h.putInt(body.length)
            o.write(h.array()); o.write(body)
            if (body.length % 2 == 1) o.write(0) // RIFF word alignment
            o.toByteArray
          }
          val movi = new java.io.ByteArrayOutputStream()
          movi.write("movi".getBytes("US-ASCII"))
          (0 until frames).foreach(_ => movi.write(chunk("00dc", jpeg)))
          val body = chunk("LIST", movi.toByteArray)
          val out = new java.io.ByteArrayOutputStream()
          val h = java.nio.ByteBuffer.allocate(12)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          h.put("RIFF".getBytes("US-ASCII")); h.putInt(4 + body.length)
          h.put("AVI ".getBytes("US-ASCII"))
          out.write(h.array()); out.write(body)
          Row(r.getLong(0), out.toByteArray)
        }
      }(enc)
  }

  /** Deterministic text→WAV renderer — the audio twin of
    * [[renderTextImages]]: 16-bit PCM mono at 8 kHz, `frames` samples in
    * an INJECTIVE layout (2 length-header samples, one sample per byte,
    * index·length-keyed filler), so PCM equality ⇔ input-string equality.
    * Feeds the audio dedup contract gate. */
  def renderTextWavs(df: DataFrame, idCol: String, textCol: String,
                     frames: Int = 1024): DataFrame = {
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("wav", BinaryType, nullable = false)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(schema))
    df.select(col(idCol).cast("long").as("asset_id"), col(textCol))
      .mapPartitions { it =>
        it.map { r =>
          val bytes = r.getString(1).getBytes("UTF-8")
          val n = math.min(bytes.length, frames - 2)
          val data = new Array[Byte](frames * 2)
          val bb = java.nio.ByteBuffer.wrap(data)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          def put(i: Int, v: Int): Unit =
            bb.putShort(i * 2, ((v - 128) * 256).toShort)
          put(0, (n >> 8) & 0xff); put(1, n & 0xff)
          var i = 0
          while (i < frames - 2) {
            put(i + 2, if (i < n) bytes(i) & 0xff else (i * 31 + n * 7) & 0xff)
            i += 1
          }
          val out = new java.io.ByteArrayOutputStream()
          val hdr = java.nio.ByteBuffer.allocate(44)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          hdr.put("RIFF".getBytes("US-ASCII")); hdr.putInt(36 + data.length)
          hdr.put("WAVE".getBytes("US-ASCII"))
          hdr.put("fmt ".getBytes("US-ASCII")); hdr.putInt(16)
          hdr.putShort(1); hdr.putShort(1); hdr.putInt(8000); hdr.putInt(16000)
          hdr.putShort(2); hdr.putShort(16)
          hdr.put("data".getBytes("US-ASCII")); hdr.putInt(data.length)
          out.write(hdr.array()); out.write(data)
          Row(r.getLong(0), out.toByteArray)
        }
      }(enc)
  }

  /** Image near-duplicate pairs: perceptual dHash per asset, then the
    * SimHash pigeonhole blocking ([[Dedup.hammingPairs]]) — any pair
    * within `maxDist` bits shares at least one exact 64/(maxDist+1)-bit
    * band, so the self-join is band-bucketed, never all-pairs, and every
    * candidate verifies exactly via bit_count(xor). Returns
    * (id_a, id_b, hamming) with id_a < id_b. */
  def imageNearDup(assets: DataFrame, maxDist: Int = 4,
                   bucketCap: Int = 8192): DataFrame = {
    import graft.rel.Checkpoint.PinOps
    // hashes feed both sides of the blocking self-join — compute once
    Dedup.hammingPairs(dHashes(assets).pin(), maxDist, bucketCap)
  }

  /** Resize planning: compute target dims preserving aspect ratio — pure
    * column math over decoded metadata (the byte-level resample would live
    * in the decode task). */
  def resizePlan(decoded: DataFrame, maxSide: Int = 256): DataFrame = {
    val scale = least(lit(maxSide.toDouble) / col("width"),
                      lit(maxSide.toDouble) / col("height"), lit(1.0))
    decoded.withColumn("target_width", ceil(col("width") * scale).cast("int"))
           .withColumn("target_height", ceil(col("height") * scale).cast("int"))
  }
}
