package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** REAL video decode — the last multimodal stub retired.
  *
  * Each doc_id maps to a deterministic short clip (closed-form per-frame
  * pixel function below), which is packed into an actual RIFF/AVI
  * container and decoded back by walking the chunk tree — the same
  * generate → container → parse → verify-against-closed-form standard the
  * PNG ([[Binary.imageDecode]]) and WAV ([[Binary.audioDecode]]) legs set.
  *
  * Two container variants, matching how real pipelines meet AVI:
  *
  *  - **Uncompressed DIB stream** (`strh` handler `'DIB '`, `strf`
  *    `biCompression=BI_RGB`): frames are raw bottom-up BGR bitmaps with
  *    4-byte row stride padding. Lossless, so the DuckDB oracle recomputes
  *    the decoded pixel aggregates straight from the pixel formula — a
  *    parser shortcut (skipped stride, flipped row order, swapped
  *    channels) breaks the hash match. This is the pixel-exact leg.
  *  - **MJPEG stream** (`'MJPG'`): each `00dc` chunk holds a REAL JPEG
  *    produced by `javax.imageio`, decoded back with `javax.imageio`.
  *    JPEG is lossy, so the oracle pins the structural facts that survive
  *    the codec exactly — frame count, per-frame DECODED dimensions —
  *    rather than pixel sums.
  *
  * Clip function (cc = id%40, w = id%8+5, h = id%5+6, n = id%6+2,
  * frame f, pixel x,y):
  *   r = (cc + 2x + 3y + 11f) % 256
  *   g = (5x + 7y + 13f) % 256
  *   b = (3cc + x + 2y + 7f) % 256
  * The collision domain is deliberate: ids congruent mod 40 render
  * identical frames at shared frame indices (and identical whole clips
  * mod 120), so frame-level dedup has real work to find.
  *
  * Container layout (fixed by the writer, asserted by the parser):
  *   RIFF(12) + LIST hdrl(200: avih 64 + LIST strl(strh 64 + strf 48))
  *   + LIST movi(12 + n·(8 + stride·h)) + idx1(8 + 16n)
  *   = 232 + n·(24 + stride·h) bytes, stride = 4·⌈3w/4⌉  [DIB variant]
  */
object Video {

  private[multimodal] def dims(id: Long): (Int, Int, Int, Int) =
    ((id % 8 + 5).toInt, (id % 5 + 6).toInt, (id % 6 + 2).toInt, (id % 40).toInt)

  private[multimodal] def stride(w: Int): Int = ((3 * w + 3) / 4) * 4

  /** Closed-form container size of the DIB variant (see layout above). */
  private[multimodal] def dibContainerBytes(id: Long): Long = {
    val (w, h, n, _) = dims(id)
    232L + n.toLong * (24L + stride(w).toLong * h)
  }

  // ---- writer ----------------------------------------------------------

  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  private final class LeBuf {
    val out = new java.io.ByteArrayOutputStream(4096)
    def bytes(b: Array[Byte]): this.type = { out.write(b); this }
    def cc(s: String): this.type = bytes(fourcc(s))
    def u32(v: Long): this.type = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
      this
    }
    def u16(v: Int): this.type = { out.write(v & 0xff); out.write((v >> 8) & 0xff); this }
  }

  private def frameDib(id: Long, f: Int): Array[Byte] = {
    val (w, h, _, cc) = dims(id)
    val st = stride(w)
    val data = new Array[Byte](st * h)
    var y = 0
    while (y < h) {
      val rowOff = (h - 1 - y) * st // bottom-up
      var x = 0
      while (x < w) {
        val r = (cc + 2 * x + 3 * y + 11 * f) % 256
        val g = (5 * x + 7 * y + 13 * f) % 256
        val b = (3 * cc + x + 2 * y + 7 * f) % 256
        data(rowOff + 3 * x) = b.toByte // BGR order
        data(rowOff + 3 * x + 1) = g.toByte
        data(rowOff + 3 * x + 2) = r.toByte
        x += 1
      }
      y += 1
    }
    data
  }

  private[multimodal] def frameImage(id: Long, f: Int): java.awt.image.BufferedImage = {
    val (w, h, _, cc) = dims(id)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var x = 0
    while (x < w) {
      var y = 0
      while (y < h) {
        val r = (cc + 2 * x + 3 * y + 11 * f) % 256
        val g = (5 * x + 7 * y + 13 * f) % 256
        val b = (3 * cc + x + 2 * y + 7 * f) % 256
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        y += 1
      }
      x += 1
    }
    img
  }

  /** Build the AVI container. `frames` carries the already-encoded payload
    * of each `00db`/`00dc` chunk; `handler`/`compression` select the
    * stream codec fourccs. */
  private def buildAvi(id: Long, frames: Seq[Array[Byte]], handler: String,
      compression: Long, chunkId: String): Array[Byte] = {
    val (w, h, n, _) = dims(id)
    require(frames.length == n, s"clip $id: ${frames.length} frames, expected $n")
    def pad(len: Int): Int = len & 1 // RIFF chunks pad to even
    val frameBytes = frames.map(fr => 8 + fr.length + pad(fr.length))
    val moviSize = 4 + frameBytes.sum
    val idxSize = 16 * n
    val hdrlSize = 4 + 64 + (8 + 4 + 64 + 48)
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize) + (8 + idxSize)

    val b = new LeBuf
    b.cc("RIFF").u32(riffSize).cc("AVI ")
    // LIST hdrl
    b.cc("LIST").u32(hdrlSize).cc("hdrl")
    //   avih: 56-byte main header
    b.cc("avih").u32(56)
    b.u32(40000) // dwMicroSecPerFrame (25 fps)
      .u32(0).u32(0).u32(0x10) // maxBytesPerSec, padding, AVIF_HASINDEX
      .u32(n).u32(0).u32(1) // totalFrames, initialFrames, streams
      .u32(0).u32(w).u32(h) // suggestedBuffer, width, height
      .u32(0).u32(0).u32(0).u32(0) // reserved
    //   LIST strl
    b.cc("LIST").u32(4 + 64 + 48).cc("strl")
    //     strh: 56-byte stream header
    b.cc("strh").u32(56)
    b.cc("vids").cc(handler)
    b.u32(0).u16(0).u16(0).u32(0) // flags, priority, language, initialFrames
      .u32(1).u32(25) // scale, rate -> 25 fps
      .u32(0).u32(n).u32(0).u32(-1 & 0xffffffffL).u32(0) // start, length, bufSize, quality, sampleSize
      .u16(0).u16(0).u16(w).u16(h) // rcFrame
    //     strf: 40-byte BITMAPINFOHEADER
    b.cc("strf").u32(40)
    b.u32(40).u32(w).u32(h).u16(1).u16(24) // biSize, w, h, planes, bitCount
      .u32(compression) // BI_RGB (0) or 'MJPG'
      .u32(stride(w).toLong * h).u32(0).u32(0).u32(0).u32(0)
    // LIST movi
    b.cc("LIST").u32(moviSize).cc("movi")
    val offsets = new Array[Long](n)
    var moviPos = 4L // offsets in idx1 are relative to the 'movi' fourcc
    frames.zipWithIndex.foreach { case (fr, i) =>
      offsets(i) = moviPos
      b.cc(chunkId).u32(fr.length).bytes(fr)
      if (pad(fr.length) == 1) b.out.write(0)
      moviPos += 8 + fr.length + pad(fr.length)
    }
    // idx1
    b.cc("idx1").u32(idxSize)
    frames.zipWithIndex.foreach { case (fr, i) =>
      b.cc(chunkId).u32(0x10).u32(offsets(i)).u32(fr.length) // AVIIF_KEYFRAME
    }
    b.out.toByteArray
  }

  private[multimodal] def buildAviDib(id: Long): Array[Byte] = {
    val n = dims(id)._3
    buildAvi(id, (0 until n).map(frameDib(id, _)), "DIB ", 0L, "00db")
  }

  /** Scene-cut clip family for [[sceneDetect]]: same container, but the
    * pixel function adds per-channel offsets that jump every
    * `scenePeriod(id)` frames — real scene cuts with a closed-form
    * oracle. Offsets (61/83/47) and in-scene steps (11/13/7) are all
    * < 128, so the per-pixel CIRCULAR byte distance between consecutive
    * frames is exactly 31 inside a scene and 222 across a cut, wrap or
    * no wrap. */
  private[multimodal] def scenePeriod(id: Long): Int = (id % 3 + 2).toInt

  private def frameDibScenes(id: Long, f: Int): Array[Byte] = {
    val (w, h, _, cc) = dims(id)
    val s = f / scenePeriod(id)
    val st = stride(w)
    val data = new Array[Byte](st * h)
    var y = 0
    while (y < h) {
      val rowOff = (h - 1 - y) * st // bottom-up
      var x = 0
      while (x < w) {
        val r = (cc + 2 * x + 3 * y + 11 * f + 61 * s) % 256
        val g = (5 * x + 7 * y + 13 * f + 83 * s) % 256
        val b = (3 * cc + x + 2 * y + 7 * f + 47 * s) % 256
        data(rowOff + 3 * x) = b.toByte // BGR order
        data(rowOff + 3 * x + 1) = g.toByte
        data(rowOff + 3 * x + 2) = r.toByte
        x += 1
      }
      y += 1
    }
    data
  }

  private[multimodal] def buildAviDibScenes(id: Long): Array[Byte] = {
    val n = dims(id)._3
    buildAvi(id, (0 until n).map(frameDibScenes(id, _)), "DIB ", 0L, "00db")
  }

  private[multimodal] def buildAviMjpeg(id: Long): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val n = dims(id)._3
    val buf = new java.io.ByteArrayOutputStream(4096)
    val frames = (0 until n).map { f =>
      buf.reset()
      javax.imageio.ImageIO.write(frameImage(id, f), "jpg", buf)
      buf.toByteArray
    }
    buildAvi(id, frames,
      "MJPG", java.nio.ByteBuffer.wrap(fourcc("MJPG"))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt.toLong & 0xffffffffL,
      "00dc")
  }

  // ---- parser ----------------------------------------------------------

  /** Parsed AVI: main-header metadata plus the raw payload (and absolute
    * file offset) of every video frame chunk, in stream order. */
  private[multimodal] final case class ParsedAvi(
      width: Int, height: Int, nFrames: Int, handler: String,
      biCompression: Long, frames: Vector[(Long, Array[Byte])])

  /** A real chunk walker: verifies the RIFF/AVI magic, descends LIST
    * chunks, reads `avih`/`strh`/`strf`, and collects `00db`/`00dc`
    * payloads from `movi` — no assumptions about chunk order or offsets
    * beyond the RIFF grammar itself. */
  private[multimodal] def parseAvi(bytes: Array[Byte]): ParsedAvi = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(): String = {
      val a = new Array[Byte](4); bb.get(a); new String(a, "US-ASCII")
    }
    require(cc() == "RIFF", "not a RIFF container")
    val riffSize = bb.getInt.toLong & 0xffffffffL
    require(riffSize == bytes.length - 8, "RIFF size mismatch")
    require(cc() == "AVI ", "not an AVI container")

    var width = -1; var height = -1; var nFrames = -1
    var handler = ""; var biCompression = -1L
    val frames = Vector.newBuilder[(Long, Array[Byte])]

    def walk(limit: Int): Unit = {
      while (bb.position() < limit) {
        val id = cc()
        val size = bb.getInt.toLong & 0xffffffffL
        val dataStart = bb.position()
        val dataEnd = dataStart + size.toInt
        id match {
          case "LIST" =>
            cc() // list type: hdrl / strl / movi — grammar is uniform, recurse
            walk(dataEnd)
          case "avih" =>
            bb.getInt; bb.getInt; bb.getInt; bb.getInt // usec, maxBps, pad, flags
            nFrames = bb.getInt
            bb.getInt; bb.getInt; bb.getInt // initial, streams, bufSize
            width = bb.getInt
            height = bb.getInt
          case "strh" =>
            val fccType = cc()
            val h = cc()
            if (fccType == "vids") handler = h
          case "strf" =>
            if (size == 40) { // BITMAPINFOHEADER
              bb.getInt // biSize
              val bw = bb.getInt; val bh = bb.getInt
              require(bw == width && bh == height,
                s"strf dims ${bw}x$bh contradict avih ${width}x$height")
              bb.getShort; bb.getShort // planes, bitCount
              biCompression = bb.getInt.toLong & 0xffffffffL
            }
          case fid if fid.endsWith("db") || fid.endsWith("dc") =>
            val payload = new Array[Byte](size.toInt)
            bb.get(payload)
            frames += ((dataStart.toLong - 8L, payload))
          case _ => // idx1 and anything else: skip
        }
        bb.position(dataEnd + (size & 1).toInt) // RIFF even-padding
      }
    }
    walk(bytes.length)
    require(width > 0 && nFrames >= 0 && handler.nonEmpty, "missing AVI headers")
    val fs = frames.result()
    require(fs.length == nFrames, s"movi has ${fs.length} frames, avih says $nFrames")
    ParsedAvi(width, height, nFrames, handler, biCompression, fs)
  }

  /** Decode one bottom-up BGR DIB payload to per-channel sums. */
  private[multimodal] def dibSums(w: Int, h: Int, data: Array[Byte]): (Long, Long, Long) = {
    val st = stride(w)
    require(data.length == st * h, s"DIB payload ${data.length} != $st*$h")
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < h) {
      val rowOff = (h - 1 - y) * st
      var x = 0
      while (x < w) {
        sb += data(rowOff + 3 * x) & 0xff
        sg += data(rowOff + 3 * x + 1) & 0xff
        sr += data(rowOff + 3 * x + 2) & 0xff
        x += 1
      }
      y += 1
    }
    (sr, sg, sb)
  }

  // ---- operators -------------------------------------------------------

  /** Whole-clip decode over the pixel-exact DIB leg: build the container,
    * parse it back, decode every frame, aggregate. Dimensions and frame
    * count are read from the PARSED headers, sums from the DECODED
    * bitmaps, the byte count from the actual container — the oracle
    * recomputes all of it (the byte count from the documented layout
    * formula), so any writer/parser disagreement fails the hash.
    *
    * Reads the shared [[Decoded.videoFrames]] pass (one container
    * build+parse per corpus for the whole lossless video family). */
  def videoDecode(spark: SparkSession, dir: String): DataFrame =
    Decoded.videoFrames(spark, dir)
      .groupBy("doc_id", "width", "height", "n_frames", "n_bytes")
      .agg(sum(col("sum_red")).as("sum_red"),
        sum(col("sum_green")).as("sum_green"),
        sum(col("sum_blue")).as("sum_blue"))
      .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
        col("n_bytes"),
        (col("width").cast("long") * col("height") * col("n_frames")).as("n_pixels"),
        col("sum_red"), col("sum_green"), col("sum_blue"))
      .withColumn("mean_red",
        col("sum_red").cast("double") / col("n_pixels").cast("double"))
      .orderBy("doc_id")

  /** Shared oracle CTE: closed-form twin of the clip function — per-doc
    * dims and per-frame channel sums, no codec involved. */
  private val clipSumsCte: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 8 + 5 AS w, doc_id % 5 + 6 AS h,
      |         doc_id % 6 + 2 AS n, doc_id % 40 AS cc
      |  FROM documents),
      |fr AS (SELECT doc_id, w, h, n, cc,
      |              unnest(generate_series(0, CAST(n - 1 AS INTEGER))) AS f FROM d),
      |xs AS (SELECT *, unnest(generate_series(0, CAST(w - 1 AS INTEGER))) AS x FROM fr),
      |px AS (SELECT *, unnest(generate_series(0, CAST(h - 1 AS INTEGER))) AS y FROM xs),
      |fsums AS (
      |  SELECT doc_id, w, h, n, f,
      |         sum((cc + 2 * x + 3 * y + 11 * f) % 256) AS sr,
      |         sum((5 * x + 7 * y + 13 * f) % 256) AS sg,
      |         sum((3 * cc + x + 2 * y + 7 * f) % 256) AS sb
      |  FROM px GROUP BY doc_id, w, h, n, f)""".stripMargin

  val videoDecodeSql: String =
    s"""$clipSumsCte
       |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |       CAST(n AS INTEGER) AS n_frames,
       |       CAST(232 + n * (24 + ((3 * w + 3) // 4) * 4 * h) AS BIGINT) AS n_bytes,
       |       CAST(w * h * n AS BIGINT) AS n_pixels,
       |       CAST(sum(sr) AS BIGINT) AS sum_red,
       |       CAST(sum(sg) AS BIGINT) AS sum_green,
       |       CAST(sum(sb) AS BIGINT) AS sum_blue,
       |       CAST(sum(sr) AS DOUBLE) / CAST(w * h * n AS DOUBLE) AS mean_red
       |FROM fsums GROUP BY doc_id, w, h, n ORDER BY doc_id""".stripMargin

  private val frameSampleSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  /** Frame sampling over the MJPEG leg: build the MJPEG-in-AVI container
    * (REAL `javax.imageio` JPEGs in `00dc` chunks), parse it, take every
    * 2nd frame, and decode the sampled JPEGs with `javax.imageio` — the
    * keyframe-sampling stage a video pipeline runs before feature
    * extraction. JPEG is lossy, so the oracle pins what survives the
    * codec exactly: which frames are sampled and their DECODED
    * dimensions. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.spread(
      Tables.load(spark, dir, "documents").select(col("doc_id")))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(frameSampleSchema)
    val sampled = ids.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { row =>
        val id = row.getLong(0)
        val p = parseAvi(buildAviMjpeg(id))
        require(p.handler == "MJPG", s"clip $id: unexpected handler ${p.handler}")
        p.frames.zipWithIndex.collect { case ((_, jpeg), f) if f % 2 == 0 =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
          require(img != null, s"undecodable JPEG frame $f of clip $id")
          Row(id, f, img.getWidth, img.getHeight)
        }
      }
    }(enc)
    sampled.orderBy("doc_id", "frame_idx")
  }

  val frameSampleSql: String =
    """SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
      |       CAST(doc_id % 8 + 5 AS INTEGER) AS width,
      |       CAST(doc_id % 5 + 6 AS INTEGER) AS height
      |FROM (SELECT doc_id,
      |             unnest(generate_series(0, CAST(doc_id % 6 + 1 AS INTEGER))) AS f
      |      FROM documents)
      |WHERE f % 2 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Per-corpus frame-level rollup over the DECODED clips: blob/frame
    * counts, fan-out skew percentiles, and total decoded pixel volume —
    * the decode-capacity plan, now read from real containers. */
  def frameStats(spark: SparkSession, dir: String): DataFrame =
    videoDecode(spark, dir)
      .agg(
        count(lit(1)).as("n_blobs"),
        sum(col("n_frames").cast("long")).as("total_frames"),
        max(col("n_frames").cast("long")).as("max_frames"),
        expr("percentile(n_frames, 0.5)").as("p50_frames"),
        expr("percentile(n_frames, 0.95)").as("p95_frames"),
        sum(col("n_pixels")).as("total_pixels"),
        sum(col("n_bytes")).as("total_bytes"))

  val frameStatsSql: String =
    """WITH f AS (
      |  SELECT doc_id, doc_id % 6 + 2 AS n_frames,
      |         (doc_id % 8 + 5) * (doc_id % 5 + 6) * (doc_id % 6 + 2) AS n_pixels,
      |         232 + (doc_id % 6 + 2) * (24 + ((3 * (doc_id % 8 + 5) + 3) // 4) * 4 * (doc_id % 5 + 6)) AS n_bytes
      |  FROM documents)
      |SELECT count(*) AS n_blobs,
      |       CAST(sum(n_frames) AS BIGINT) AS total_frames,
      |       CAST(max(n_frames) AS BIGINT) AS max_frames,
      |       quantile_cont(n_frames, 0.5) AS p50_frames,
      |       quantile_cont(n_frames, 0.95) AS p95_frames,
      |       CAST(sum(n_pixels) AS BIGINT) AS total_pixels,
      |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes
      |FROM f""".stripMargin


  /** Cross-document frame dedup over DECODED pixels: fingerprint = md5 of
    * the decoded per-frame channel sums and dims, grouped across the
    * corpus — intro cards / black frames / shared stock footage dedupe at
    * the frame, not the file. Real duplicates exist by construction: ids
    * congruent mod 40 render identical frames at shared indices. Same
    * one-shuffle hash-groupBy shape as exact text dedup. */
  def frameDedup(spark: SparkSession, dir: String): DataFrame = {
    // fingerprint = md5 over the decoded per-frame channel sums and dims,
    // read from the shared decode-once pass; Spark's md5(concat_ws) is
    // the same UTF-8 "w:h:sr:sg:sb" digest the codec loop computed
    val sigs = Decoded.videoFrames(spark, dir)
      .select(col("doc_id"),
        md5(concat_ws(":",
          col("width").cast("string"), col("height").cast("string"),
          col("sum_red").cast("string"), col("sum_green").cast("string"),
          col("sum_blue").cast("string")).cast("binary")).as("sig"))
    sigs
      .groupBy("sig")
      .agg(
        count(lit(1)).as("n_frames"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("canonical_doc"))
      .where(col("n_docs") > 1)
      .orderBy("sig")
  }

  val frameDedupSql: String =
    s"""$clipSumsCte,
       |sigs AS (
       |  SELECT doc_id,
       |         md5(CAST(w AS VARCHAR) || ':' || CAST(h AS VARCHAR) || ':' ||
       |             CAST(sr AS VARCHAR) || ':' || CAST(sg AS VARCHAR) || ':' ||
       |             CAST(sb AS VARCHAR)) AS sig
       |  FROM fsums)
       |SELECT sig, count(*) AS n_frames, count(DISTINCT doc_id) AS n_docs,
       |       min(doc_id) AS canonical_doc
       |FROM sigs GROUP BY sig HAVING count(DISTINCT doc_id) > 1
       |ORDER BY sig""".stripMargin

  private val metaSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("container", StringType, nullable = false),
    StructField("magic_hex", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_units", LongType, nullable = false)))

  /** Typed-metadata extraction over REAL containers of all three
    * modalities — the header-sniffing stage of a multimodal lake. Each doc
    * carries its modality's actual container (doc_id%3: PNG image / WAV
    * audio / AVI video, the same assignment as
    * [[Binary.modalityStats]]); the op sniffs the magic bytes and parses
    * the format's own header for dimensions / frame count / sample rate.
    * Every output field is read from the PARSED container and pinned by
    * the closed-form oracle (PNG IHDR dims, WAV fmt/data sizes, AVI
    * avih). */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.spread(
      Tables.load(spark, dir, "documents").select(col("doc_id")))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(metaSchema)
    val metas = ids.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
      val buf = new java.io.ByteArrayOutputStream(8192)
      rows.map { row =>
        val id = row.getLong(0)
        val payload: Array[Byte] = (id % 3) match {
          case 0 => // PNG, same generator as Binary.imageDecode
            buf.reset()
            javax.imageio.ImageIO.write(Binary.pixelImage(id), "png", buf)
            buf.toByteArray
          case 1 => // WAV, same waveform as Binary.audioDecode
            val n = (id % 480 + 160).toInt
            val pcm = new Array[Byte](n * 2)
            var i = 0
            while (i < n) {
              val s = ((id * 31 + i * 17) % 65536 - 32768).toInt
              pcm(2 * i) = (s & 0xff).toByte
              pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
              i += 1
            }
            buf.reset()
            AudioSystem.write(
              new AudioInputStream(new java.io.ByteArrayInputStream(pcm),
                new AudioFormat(8000f, 16, 1, true, false), n.toLong),
              AudioFileFormat.Type.WAVE, buf)
            buf.toByteArray
          case _ => buildAviDib(id)
        }
        val magic = payload.take(4).map("%02X".format(_)).mkString
        // sniff by magic, parse the format's own header
        val parsed: Row = magic match {
          case "89504E47" => // PNG: IHDR width/height are bytes 16..23, BE
            def be32(o: Int): Int =
              ((payload(o) & 0xff) << 24) | ((payload(o + 1) & 0xff) << 16) |
                ((payload(o + 2) & 0xff) << 8) | (payload(o + 3) & 0xff)
            val w = be32(16); val h = be32(20)
            Row(id, "png", magic, w, h, 1, 0, w.toLong * h)
          case "52494646" => // RIFF: WAVE or AVI
            val form = new String(payload.slice(8, 12), "US-ASCII")
            if (form == "WAVE") {
              val dec = AudioSystem.getAudioInputStream(
                new java.io.ByteArrayInputStream(payload))
              val f = dec.getFormat
              val nSamples = dec.getFrameLength
              Row(id, "wav", magic, 0, 0, 0, f.getSampleRate.toInt, nSamples)
            } else {
              val p = parseAvi(payload)
              Row(id, "avi", magic, p.width, p.height, p.nFrames, 0,
                p.width.toLong * p.height * p.nFrames)
            }
          case m => throw new IllegalArgumentException(s"unknown magic $m for doc $id")
        }
        parsed
      }
    }(enc)
    metas.orderBy("doc_id")
  }

  val binaryMetaSql: String =
    """SELECT doc_id,
      |       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'avi' END AS container,
      |       CASE doc_id % 3 WHEN 0 THEN '89504E47' ELSE '52494646' END AS magic_hex,
      |       CAST(CASE doc_id % 3 WHEN 0 THEN doc_id % 16 + 8
      |                            WHEN 1 THEN 0 ELSE doc_id % 8 + 5 END AS INTEGER) AS width,
      |       CAST(CASE doc_id % 3 WHEN 0 THEN doc_id % 13 + 8
      |                            WHEN 1 THEN 0 ELSE doc_id % 5 + 6 END AS INTEGER) AS height,
      |       CAST(CASE doc_id % 3 WHEN 0 THEN 1
      |                            WHEN 1 THEN 0 ELSE doc_id % 6 + 2 END AS INTEGER) AS n_frames,
      |       CAST(CASE doc_id % 3 WHEN 1 THEN 8000 ELSE 0 END AS INTEGER) AS sample_rate,
      |       CAST(CASE doc_id % 3
      |            WHEN 0 THEN (doc_id % 16 + 8) * (doc_id % 13 + 8)
      |            WHEN 1 THEN doc_id % 480 + 160
      |            ELSE (doc_id % 8 + 5) * (doc_id % 5 + 6) * (doc_id % 6 + 2)
      |       END AS BIGINT) AS n_units
      |FROM documents ORDER BY doc_id""".stripMargin

  private val sceneSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("scene_period", IntegerType, nullable = false),
    StructField("n_cuts", LongType, nullable = false),
    StructField("first_cut", IntegerType, nullable = false),
    StructField("sad_total", LongType, nullable = false),
    StructField("mean_sad_per_px", DoubleType, nullable = false)))

  /** Scene-cut detection over DECODED frames — the keyframe-selection
    * stage a video pipeline runs before per-scene sampling (shot-boundary
    * detection by frame differencing, the classic SAD detector): per
    * consecutive frame pair, the per-pixel sum of CIRCULAR byte distances
    * (min(|Δ|, 256−|Δ|) per channel — wrap-proof where plain |Δ| is not),
    * a cut where the SAD exceeds 100·pixels. Clips come from the
    * scene-cut family ([[buildAviDibScenes]]): real AVI containers whose
    * pixel function jumps every `scenePeriod(id)` frames, so cuts exist
    * by construction, the lossless DIB round trip makes the decoded SAD
    * exact, and the oracle recomputes everything closed-form.
    *
    * Scale shape: per-clip codec work in the batched mapPartitions shape
    * (consecutive-frame state never crosses a row boundary), zero
    * shuffles before the output sort. */
  def sceneDetect(spark: SparkSession, dir: String): DataFrame =
    Decoded.videoScenes(spark, dir).orderBy("doc_id")

  /** [[sceneDetect]]'s codec core over an arbitrary clip-id set — the
    * per-clip pass [[Decoded.videoScenes]] memoizes. */
  private[multimodal] def sceneDetectOf(ids: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(sceneSchema)
    val detected = ids.mapPartitions { rows =>
      rows.map { row =>
        val id = row.getLong(0)
        val p = parseAvi(buildAviDibScenes(id))
        require(p.handler == "DIB " && p.biCompression == 0L,
          s"clip $id: unexpected codec ${p.handler}/${p.biCompression}")
        val st = ((3 * p.width + 3) / 4) * 4
        val px = p.width * p.height
        var sadTotal = 0L
        var nCuts = 0L
        var firstCut = 0
        var f = 1
        while (f < p.nFrames) {
          val a = p.frames(f - 1)._2
          val b = p.frames(f)._2
          var sad = 0L
          var y = 0
          while (y < p.height) {
            val rowOff = y * st // same layout both frames: row order is irrelevant to SAD
            var i = rowOff
            val end = rowOff + 3 * p.width
            while (i < end) {
              val d = math.abs((a(i) & 0xff) - (b(i) & 0xff))
              sad += math.min(d, 256 - d)
              i += 1
            }
            y += 1
          }
          sadTotal += sad
          if (sad > 100L * px) {
            nCuts += 1
            if (firstCut == 0) firstCut = f
          }
          f += 1
        }
        Row(id, p.nFrames, scenePeriod(id), nCuts, firstCut, sadTotal,
          sadTotal.toDouble / ((p.nFrames - 1).toLong * px).toDouble)
      }
    }(enc)
    detected.orderBy("doc_id")
  }

  val sceneDetectSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 8 + 5 AS w, doc_id % 5 + 6 AS h,
      |         doc_id % 6 + 2 AS n, doc_id % 40 AS cc, doc_id % 3 + 2 AS sp
      |  FROM documents),
      |fr AS (SELECT doc_id, w, h, n, cc, sp,
      |              unnest(generate_series(1, CAST(n - 1 AS INTEGER))) AS f FROM d),
      |xs AS (SELECT *, unnest(generate_series(0, CAST(w - 1 AS INTEGER))) AS x FROM fr),
      |px AS (SELECT *, unnest(generate_series(0, CAST(h - 1 AS INTEGER))) AS y FROM xs),
      |dd AS (
      |  SELECT doc_id, n, sp, w * h AS npx, f,
      |         abs((cc + 2*x + 3*y + 11*f + 61*(f // sp)) % 256
      |           - (cc + 2*x + 3*y + 11*(f-1) + 61*((f-1) // sp)) % 256) AS ar,
      |         abs((5*x + 7*y + 13*f + 83*(f // sp)) % 256
      |           - (5*x + 7*y + 13*(f-1) + 83*((f-1) // sp)) % 256) AS ag,
      |         abs((3*cc + x + 2*y + 7*f + 47*(f // sp)) % 256
      |           - (3*cc + x + 2*y + 7*(f-1) + 47*((f-1) // sp)) % 256) AS abl
      |  FROM px),
      |fs AS (
      |  SELECT doc_id, n, sp, npx, f,
      |         sum(least(ar, 256 - ar) + least(ag, 256 - ag) + least(abl, 256 - abl)) AS sad
      |  FROM dd GROUP BY doc_id, n, sp, npx, f)
      |SELECT doc_id, CAST(n AS INTEGER) AS n_frames, CAST(sp AS INTEGER) AS scene_period,
      |       CAST(sum(CASE WHEN sad > 100 * npx THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
      |       CAST(coalesce(min(CASE WHEN sad > 100 * npx THEN f END), 0) AS INTEGER) AS first_cut,
      |       CAST(sum(sad) AS BIGINT) AS sad_total,
      |       CAST(sum(sad) AS DOUBLE) / CAST((n - 1) * npx AS DOUBLE) AS mean_sad_per_px
      |FROM fs GROUP BY doc_id, n, sp, npx ORDER BY doc_id""".stripMargin


  /** Static/dead-clip detector — per clip the envelope of per-frame
    * intensity sums over the DECODED frames: a near-zero range means a
    * frozen encoder, a stuck camera, or a transcode that dropped to a
    * still — clips [[sceneDetect]] scores as zero-motion AND
    * [[videoMotion]] buckets at zero, but this op prices directly with
    * a flag (range < 4 intensity units/pixel). Intensity per frame is
    * the exact integer Σ(R+G+B); the range-per-pixel is one double
    * ratio; the oracle recomputes everything closed-form.
    *
    * Scale shape: per-clip codec work in mapPartitions (spread-guarded),
    * zero shuffles before the output sort. */
  def videoLumaRange(spark: SparkSession, dir: String): DataFrame = {
    // per-frame intensity Σ(R+G+B) envelope off the shared decode-once
    // pass — the exact integer sums the codec loop computed
    val decoded = Decoded.videoFrames(spark, dir)
      .select(col("doc_id"), col("n_frames"),
        (col("width").cast("long") * col("height")).as("n_pixels"),
        (col("sum_red") + col("sum_green") + col("sum_blue")).as("tsum"))
      .groupBy("doc_id", "n_frames", "n_pixels")
      .agg(min(col("tsum")).as("min_frame_sum"),
        max(col("tsum")).as("max_frame_sum"))
      .select("doc_id", "n_frames", "n_pixels", "min_frame_sum", "max_frame_sum")
    decoded
      .withColumn("range_per_px",
        (col("max_frame_sum") - col("min_frame_sum")).cast("double")
          / col("n_pixels").cast("double"))
      .withColumn("static_clip",
        col("max_frame_sum") - col("min_frame_sum") < lit(4L) * col("n_pixels"))
      .orderBy("doc_id")
  }

  val videoLumaRangeSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 8 + 5 AS w, doc_id % 5 + 6 AS h,
      |         doc_id % 6 + 2 AS n, doc_id % 40 AS cc
      |  FROM documents),
      |fr AS (SELECT doc_id, w, h, n, cc,
      |              unnest(generate_series(0, CAST(n - 1 AS INTEGER))) AS f FROM d),
      |xs AS (SELECT *, unnest(generate_series(0, CAST(w - 1 AS INTEGER))) AS x FROM fr),
      |px AS (SELECT *, unnest(generate_series(0, CAST(h - 1 AS INTEGER))) AS y FROM xs),
      |fsums AS (
      |  SELECT doc_id, w, h, n, f,
      |         sum((cc + 2 * x + 3 * y + 11 * f) % 256
      |             + (5 * x + 7 * y + 13 * f) % 256
      |             + (3 * cc + x + 2 * y + 7 * f) % 256) AS tsum
      |  FROM px GROUP BY doc_id, w, h, n, f),
      |c AS (
      |  SELECT doc_id, CAST(max(n) AS INTEGER) AS n_frames,
      |         CAST(max(w) * max(h) AS BIGINT) AS n_pixels,
      |         CAST(min(tsum) AS BIGINT) AS min_frame_sum,
      |         CAST(max(tsum) AS BIGINT) AS max_frame_sum
      |  FROM fsums GROUP BY doc_id)
      |SELECT doc_id, n_frames, n_pixels, min_frame_sum, max_frame_sum,
      |       CAST(max_frame_sum - min_frame_sum AS DOUBLE)
      |         / CAST(n_pixels AS DOUBLE) AS range_per_px,
      |       max_frame_sum - min_frame_sum < 4 * n_pixels AS static_clip
      |FROM c ORDER BY doc_id""".stripMargin

  /** Corpus motion profile — the frame-sampling-rate decision table: the
    * distribution of per-clip motion (mean SAD per pixel between
    * consecutive DECODED frames, the [[sceneDetect]] magnitude rather
    * than its cut count), bucketed at 1/16-SAD granularity. A mass of
    * near-zero buckets says sparse frame sampling loses nothing; a fat
    * high-motion tail prices denser sampling or per-scene keyframes.
    *
    * Exactness: per-clip SAD totals and pixel-pair counts are exact
    * integers off the lossless DIB round trip; the bucket is the pure
    * INTEGER division (16·sad) DIV ((frames−1)·pixels), and each
    * bucket's mean is one fixed-order double ratio of exact sums.
    *
    * Scale shape: per-clip codec work in mapPartitions (spread-guarded),
    * one ≤~6k-key aggregation (the bucket domain is bounded by the
    * 3-channel circular byte distance: mean SAD/px ≤ 384, so bucket ≤
    * 6144), share/cumulative windows over that bounded table. */
  def videoMotion(spark: SparkSession, dir: String): DataFrame = {
    val per = Decoded.videoScenes(spark, dir)
    val npx = ((col("doc_id") % 8 + 5) * (col("doc_id") % 5 + 6)).cast("long")
    val tot = org.apache.spark.sql.expressions.Window.partitionBy()
    val cum = org.apache.spark.sql.expressions.Window.partitionBy()
      .orderBy("motion_bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    per
      .select(col("sad_total"),
        ((col("n_frames").cast("long") - 1L) * npx).as("px_pairs"))
      .select(col("sad_total"), col("px_pairs"),
        expr("(16 * sad_total) DIV px_pairs").as("motion_bucket"))
      .groupBy("motion_bucket")
      .agg(count(lit(1)).as("n_clips"),
        sum(col("sad_total")).cast("long").as("sad_total"),
        sum(col("px_pairs")).cast("long").as("px_pairs"))
      .withColumn("clip_share",
        col("n_clips").cast("double") / sum(col("n_clips")).over(tot).cast("double"))
      .withColumn("cum_clip_share",
        sum(col("n_clips")).over(cum).cast("double")
          / sum(col("n_clips")).over(tot).cast("double"))
      .select(col("motion_bucket"),
        (col("motion_bucket").cast("double") / 16.0).as("motion_lo"),
        col("n_clips"), col("clip_share"), col("cum_clip_share"),
        col("sad_total"), col("px_pairs"),
        (col("sad_total").cast("double") / col("px_pairs").cast("double"))
          .as("mean_sad_per_px"))
      .orderBy("motion_bucket")
  }

  val videoMotionSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 8 + 5 AS w, doc_id % 5 + 6 AS h,
      |         doc_id % 6 + 2 AS n, doc_id % 40 AS cc, doc_id % 3 + 2 AS sp
      |  FROM documents),
      |fr AS (SELECT doc_id, w, h, n, cc, sp,
      |              unnest(generate_series(1, CAST(n - 1 AS INTEGER))) AS f FROM d),
      |xs AS (SELECT *, unnest(generate_series(0, CAST(w - 1 AS INTEGER))) AS x FROM fr),
      |px AS (SELECT *, unnest(generate_series(0, CAST(h - 1 AS INTEGER))) AS y FROM xs),
      |dd AS (
      |  SELECT doc_id, n, w * h AS npx, f,
      |         abs((cc + 2*x + 3*y + 11*f + 61*(f // sp)) % 256
      |           - (cc + 2*x + 3*y + 11*(f-1) + 61*((f-1) // sp)) % 256) AS ar,
      |         abs((5*x + 7*y + 13*f + 83*(f // sp)) % 256
      |           - (5*x + 7*y + 13*(f-1) + 83*((f-1) // sp)) % 256) AS ag,
      |         abs((3*cc + x + 2*y + 7*f + 47*(f // sp)) % 256
      |           - (3*cc + x + 2*y + 7*(f-1) + 47*((f-1) // sp)) % 256) AS abl
      |  FROM px),
      |clip AS (
      |  SELECT doc_id, n, npx,
      |         sum(least(ar, 256 - ar) + least(ag, 256 - ag) + least(abl, 256 - abl)) AS sad_total
      |  FROM dd GROUP BY doc_id, n, npx),
      |b AS (
      |  SELECT CAST(sad_total AS BIGINT) AS sad_total,
      |         CAST((n - 1) * npx AS BIGINT) AS px_pairs,
      |         (16 * CAST(sad_total AS BIGINT)) // CAST((n - 1) * npx AS BIGINT) AS motion_bucket
      |  FROM clip),
      |h AS (
      |  SELECT motion_bucket, count(*) AS n_clips,
      |         CAST(sum(sad_total) AS BIGINT) AS sad_total,
      |         CAST(sum(px_pairs) AS BIGINT) AS px_pairs
      |  FROM b GROUP BY motion_bucket)
      |SELECT motion_bucket,
      |       CAST(motion_bucket AS DOUBLE) / 16.0 AS motion_lo,
      |       n_clips,
      |       CAST(n_clips AS DOUBLE) / CAST(sum(n_clips) OVER () AS DOUBLE) AS clip_share,
      |       CAST(sum(n_clips) OVER (ORDER BY motion_bucket
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |         / CAST(sum(n_clips) OVER () AS DOUBLE) AS cum_clip_share,
      |       sad_total, px_pairs,
      |       CAST(sad_total AS DOUBLE) / CAST(px_pairs AS DOUBLE) AS mean_sad_per_px
      |FROM h ORDER BY motion_bucket""".stripMargin


  /** REAL video resize — the thumbnail/preview-track stage over the
    * pixel-exact DIB leg, mirroring [[Binary.imageResize]] frame-wise:
    * the container is parsed, every decoded frame is 2× box-filter
    * downsampled (each output pixel the FLOOR INTEGER mean of its ≤2×2
    * source block; odd edges 1-wide), and the aggregates are read from
    * the RESIZED frames — all exact integer arithmetic, so the DuckDB
    * oracle pins every resized pixel of every frame from the closed-form
    * clip function. A wrong stride, bottom-up flip, or rounding drift
    * anywhere in parse→decode→filter breaks the hash.
    *
    * Scale shape: per-clip codec work in mapPartitions (spread-guarded),
    * zero shuffles before the output sort. */
  def videoResize(spark: SparkSession, dir: String): DataFrame = {
    // per-frame box-filter aggregates come off the shared decode-once
    // pass (the filter runs there, frame-wise, in the same exact integer
    // arithmetic); this operator is a per-clip rollup
    val resized = Decoded.videoFrames(spark, dir)
      .groupBy(col("doc_id"),
        col("width").as("src_w"), col("height").as("src_h"), col("n_frames"))
      .agg(sum(col("rz_sum_red")).as("sum_red"),
        sum(col("rz_sum_green")).as("sum_green"),
        sum(col("rz_sum_blue")).as("sum_blue"))
      .select(col("doc_id"), col("src_w"), col("src_h"),
        expr("(src_w + 1) DIV 2").cast("int").as("out_w"),
        expr("(src_h + 1) DIV 2").cast("int").as("out_h"),
        col("n_frames"),
        (expr("(src_w + 1) DIV 2") * expr("(src_h + 1) DIV 2")
          * col("n_frames").cast("long")).as("n_out_pixels"),
        col("sum_red"), col("sum_green"), col("sum_blue"))
    resized
      .withColumn("mean_red",
        col("sum_red").cast("double") / col("n_out_pixels").cast("double"))
      .orderBy("doc_id")
  }

  val videoResizeSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 8 + 5 AS w, doc_id % 5 + 6 AS h,
      |         doc_id % 6 + 2 AS n, doc_id % 40 AS cc
      |  FROM documents),
      |fr AS (SELECT doc_id, w, h, n, cc,
      |              unnest(generate_series(0, CAST(n - 1 AS INTEGER))) AS f FROM d),
      |xs AS (SELECT *, unnest(generate_series(0, CAST(w - 1 AS INTEGER))) AS x FROM fr),
      |px AS (SELECT *, unnest(generate_series(0, CAST(h - 1 AS INTEGER))) AS y FROM xs),
      |blocks AS (
      |  SELECT doc_id, w, h, n, f, x // 2 AS bx, y // 2 AS by,
      |         sum((cc + 2 * x + 3 * y + 11 * f) % 256) // count(*) AS r,
      |         sum((5 * x + 7 * y + 13 * f) % 256) // count(*) AS g,
      |         sum((3 * cc + x + 2 * y + 7 * f) % 256) // count(*) AS b
      |  FROM px GROUP BY doc_id, w, h, n, f, x // 2, y // 2),
      |sums AS (
      |  SELECT doc_id, w, h, n, sum(r) AS sr, sum(g) AS sg, sum(b) AS sb,
      |         count(*) AS np
      |  FROM blocks GROUP BY doc_id, w, h, n)
      |SELECT doc_id,
      |       CAST(w AS INTEGER) AS src_w, CAST(h AS INTEGER) AS src_h,
      |       CAST((w + 1) // 2 AS INTEGER) AS out_w,
      |       CAST((h + 1) // 2 AS INTEGER) AS out_h,
      |       CAST(n AS INTEGER) AS n_frames,
      |       CAST(np AS BIGINT) AS n_out_pixels,
      |       CAST(sr AS BIGINT) AS sum_red, CAST(sg AS BIGINT) AS sum_green,
      |       CAST(sb AS BIGINT) AS sum_blue,
      |       CAST(sr AS DOUBLE) / CAST(np AS DOUBLE) AS mean_red
      |FROM sums ORDER BY doc_id""".stripMargin
}
