package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Decode-once tables for the multimodal family (r13 verdict item 5).
  *
  * Before this, every image query re-ran the PNG encode+decode over the
  * whole corpus and every audio query re-ran the WAV round trip — ~20 s of
  * the sf0.1 bench was REPEATED codec work, and the audio leg is serialized
  * by the JVM's synchronized AudioSystem provider registry, so it repeated
  * on one core. Nobody re-decodes a petabyte of images per metric: the
  * production shape is ONE decode pass that extracts every per-blob
  * aggregate the downstream metrics read, materialized keyed by doc_id.
  *
  * [[images]] and [[audio]] are that pass, memoized per (session, dir)
  * exactly like the dedup family's corpus builds (a bounded
  * [[graft.SharedBuilds]] memo, admitting a new dir evicts the old one;
  * Bench forces each build under its own attributed `shared:` line;
  * InvarianceSweep evicts via [[clearMemos]]).
  * Each column is the SAME integer arithmetic the standalone operators
  * used — the DuckDB oracles are unchanged, so the correctness gate proves
  * the fused pass bit-matches the per-query decodes it replaced.
  *
  * Scale shape: the decode is per-row mapPartitions work (no shuffle); the
  * memoized result is a narrow table (≤22 int64 columns) cached executor-
  * side. At 100 TB this is a persisted parquet table bucketed by doc_id,
  * built once per corpus ingest — [[writeDecodedTables]] is that writer
  * (the memo stands in for the persisted table within a session).
  */
object Decoded {

  private val memos = new graft.SharedBuilds.Owner
  private val imgCache = memos.frames()
  private val audCache = memos.frames()
  private val vidCache = memos.frames()
  private val sceneCache = memos.frames()

  /** Evict the decode tables for `spark` — InvarianceSweep calls this
    * between layouts so the sweep re-decodes under each layout's confs
    * instead of re-reading blocks cached under the first. */
  private[graft] def clearMemos(spark: SparkSession): Unit = memos.clear(spark)

  /** Bench forces these under attributed `shared:` lines BEFORE timing the
    * registry, so each mm query's median measures marginal cost and the
    * one-time decode cost is an explicit line (same contract as
    * [[graft.dedup.Dedup.sharedBuilds]]). */
  def sharedBuilds: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "decoded_images" -> ((s, d) => images(s, d)),
    "decoded_audio" -> ((s, d) => audio(s, d)),
    "decoded_video_frames" -> ((s, d) => videoFrames(s, d)),
    "decoded_video_scenes" -> ((s, d) => videoScenes(s, d)))

  private val imageSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_pixels", LongType, nullable = false),
    StructField("sum_red", LongType, nullable = false),
    StructField("sum_green", LongType, nullable = false),
    StructField("sum_blue", LongType, nullable = false),
    // Hasler–Süsstrunk opponent-channel moments (imageColorfulness)
    StructField("s_rg", LongType, nullable = false),
    StructField("s_rg2", LongType, nullable = false),
    StructField("s_t", LongType, nullable = false),
    StructField("s_t2", LongType, nullable = false),
    // interior variance-of-Laplacian moments (imageBlur)
    StructField("n_interior", LongType, nullable = false),
    StructField("s_lap", LongType, nullable = false),
    StructField("s_lap2", LongType, nullable = false),
    // 56-bit block-mean dHash (imagePhash / phashHammingHist)
    StructField("phash", LongType, nullable = false),
    // 2× box-filter downsample aggregates (imageResize)
    StructField("out_w", IntegerType, nullable = false),
    StructField("out_h", IntegerType, nullable = false),
    StructField("n_out_pixels", LongType, nullable = false),
    StructField("rz_sum_red", LongType, nullable = false),
    StructField("rz_sum_green", LongType, nullable = false),
    StructField("rz_sum_blue", LongType, nullable = false)))

  /** ONE real PNG encode+decode per document, every image metric's integer
    * aggregates extracted from the decoded pixels in the same pass. The
    * arithmetic is copied verbatim from the standalone operators it
    * replaces (imageDecode / imageColorfulness / imageBlur / phashes /
    * imageResize) — their oracles pin it unchanged. */
  def images(spark: SparkSession, dir: String): DataFrame =
    imgCache(spark, dir) {
      val ids = Tables.spread(
        Tables.load(spark, dir, "documents").select(col("doc_id")))
      val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(imageSchema)
      ids.mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // see Binary.imageDecode
        val buf = new java.io.ByteArrayOutputStream(8192)
        rows.map { row =>
          val id = row.getLong(0)
          buf.reset()
          javax.imageio.ImageIO.write(Binary.pixelImage(id), "png", buf)
          val dec = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(buf.toByteArray))
          require(dec != null, s"undecodable PNG for doc $id")
          val w = dec.getWidth; val h = dec.getHeight
          val rA = new Array[Int](w * h)
          val gA = new Array[Int](w * h)
          val bA = new Array[Int](w * h)
          // pass 1: channel sums, colorfulness moments, phash block sums
          var sr = 0L; var sg = 0L; var sb = 0L
          var sRg = 0L; var sRg2 = 0L; var sT = 0L; var sT2 = 0L
          val blockSums = Array.ofDim[Long](8, 8)
          val blockCnts = Array.ofDim[Long](8, 8)
          var x = 0
          while (x < w) {
            val bx = x * 8 / w
            var y = 0
            while (y < h) {
              val p = dec.getRGB(x, y)
              val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
              val i = y * w + x
              rA(i) = r; gA(i) = g; bA(i) = b
              sr += r; sg += g; sb += b
              val rg = (r - g).toLong; val t = (r + g - 2 * b).toLong
              sRg += rg; sRg2 += rg * rg; sT += t; sT2 += t * t
              val by = y * 8 / h
              blockSums(by)(bx) += r + g + b
              blockCnts(by)(bx) += 1L
              y += 1
            }
            x += 1
          }
          // interior Laplacian over L = r+g+b (imageBlur)
          var sL = 0L; var sL2 = 0L
          var yy = 1
          while (yy < h - 1) {
            var xx = 1
            while (xx < w - 1) {
              def lum(i: Int): Int = rA(i) + gA(i) + bA(i)
              val c = yy * w + xx
              val lap = (4 * lum(c) - lum(c - 1) - lum(c + 1)
                - lum(c - w) - lum(c + w)).toLong
              sL += lap; sL2 += lap * lap
              xx += 1
            }
            yy += 1
          }
          // 56-bit dHash: column i+1's block mean exceeds column i's,
          // cross-multiplied so it stays exact integer
          var hash = 0L
          var j = 0
          while (j < 8) {
            var i = 0
            while (i < 7) {
              if (blockSums(j)(i + 1) * blockCnts(j)(i) >
                  blockSums(j)(i) * blockCnts(j)(i + 1))
                hash |= 1L << (j * 7 + i)
              i += 1
            }
            j += 1
          }
          // 2× box-filter downsample (imageResize): floor mean per block
          val ow = (w + 1) / 2; val oh = (h + 1) / 2
          var rzR = 0L; var rzG = 0L; var rzB = 0L
          var bx2 = 0
          while (bx2 < ow) {
            var by2 = 0
            while (by2 < oh) {
              var r = 0L; var g = 0L; var b = 0L; var n = 0L
              var dx = 0
              while (dx < 2 && 2 * bx2 + dx < w) {
                var dy = 0
                while (dy < 2 && 2 * by2 + dy < h) {
                  val i = (2 * by2 + dy) * w + (2 * bx2 + dx)
                  r += rA(i); g += gA(i); b += bA(i)
                  n += 1; dy += 1
                }
                dx += 1
              }
              rzR += r / n; rzG += g / n; rzB += b / n
              by2 += 1
            }
            bx2 += 1
          }
          Row(id, w, h, w.toLong * h, sr, sg, sb,
            sRg, sRg2, sT, sT2,
            (w - 2).toLong * (h - 2), sL, sL2,
            hash,
            ow, oh, ow.toLong * oh, rzR, rzG, rzB)
        }
      }(enc)
    }

  private[multimodal] val defaultRail = 32256
  private[multimodal] val defaultGate = 4096

  private val audioSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("sum_pcm", LongType, nullable = false),
    StructField("min_pcm", LongType, nullable = false),
    StructField("max_pcm", LongType, nullable = false),
    // energy + zero crossings (audioStats) and peak (audioCrest)
    StructField("sum_sq", LongType, nullable = false),
    StructField("n_zero_cross", LongType, nullable = false),
    StructField("peak_abs", LongType, nullable = false),
    // rail-run structure at the default rail (audioClipping)
    StructField("n_clipped", LongType, nullable = false),
    StructField("n_clip_runs", LongType, nullable = false),
    StructField("longest_clip_run", LongType, nullable = false),
    // quiet-run structure at the default gate (audioSilence)
    StructField("n_silent", LongType, nullable = false),
    StructField("longest_silent_run", LongType, nullable = false),
    StructField("lead_silence", LongType, nullable = false),
    StructField("trail_silence", LongType, nullable = false),
    // 2:1 pair-mean decimation aggregates (audioResample)
    StructField("n_out", LongType, nullable = false),
    StructField("rs_sum_pcm", LongType, nullable = false),
    StructField("rs_min_pcm", LongType, nullable = false),
    StructField("rs_max_pcm", LongType, nullable = false),
    // 15-band 4-bit energy-envelope fingerprint (audioFingerprintDedup)
    StructField("fp", LongType, nullable = false)))

  /** ONE real RIFF/WAVE encode+decode per document — the serial
    * AudioSystem pass (its provider registry is synchronized; see
    * Binary.audioDecode) now runs ONCE per corpus instead of once per
    * audio metric. Clipping/silence columns are computed at the DEFAULT
    * rail/gate; the public operators keep their parameters and fall back
    * to a bespoke pass for non-default values. */
  def audio(spark: SparkSession, dir: String): DataFrame =
    audCache(spark, dir) {
      val ids = Tables.loadSerial(spark, dir, "documents").select(col("doc_id"))
      val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(audioSchema)
      ids.mapPartitions { rows =>
        import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
        val fmt = new AudioFormat(8000f, 16, 1, true, false) // PCM16 mono LE
        val buf = new java.io.ByteArrayOutputStream(8192)
        rows.map { row =>
          val id = row.getLong(0)
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
          val in = new AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          AudioSystem.write(in, AudioFileFormat.Type.WAVE, buf)
          val dec = AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(buf.toByteArray))
          val df = dec.getFormat
          require(df.getSampleSizeInBits == 16 && !df.isBigEndian,
            s"unexpected decoded format for doc $id")
          val bytes = dec.readAllBytes()
          val m = bytes.length / 2
          def sample(j: Int): Int =
            ((bytes(2 * j + 1).toInt) << 8) | (bytes(2 * j) & 0xff)
          var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
          var sumSq = 0L; var cross = 0L; var prevNonNeg = false
          var peak = 0L
          var nClipped = 0L; var clipRuns = 0L; var longestClip = 0L; var clipRun = 0L
          var nSilent = 0L; var longestSil = 0L; var silRun = 0L
          var lead = -1L; var lastLoud = -1L
          val e = new Array[Long](15)
          var j = 0
          while (j < m) {
            val s = sample(j)
            sum += s; if (s < mn) mn = s; if (s > mx) mx = s
            sumSq += s.toLong * s
            val nonNeg = s >= 0
            if (j > 0 && nonNeg != prevNonNeg) cross += 1
            prevNonNeg = nonNeg
            val a = math.abs(s.toLong)
            if (a > peak) peak = a
            if (a >= defaultRail) {
              nClipped += 1; clipRun += 1
              if (clipRun == 1L) clipRuns += 1
              if (clipRun > longestClip) longestClip = clipRun
            } else clipRun = 0
            if (a < defaultGate) {
              nSilent += 1; silRun += 1
              if (silRun > longestSil) longestSil = silRun
            } else {
              silRun = 0
              if (lead < 0) lead = j.toLong
              lastLoud = j.toLong
            }
            e((j * 15) / m) += a
            j += 1
          }
          val leadSil = if (lead < 0) m.toLong else lead
          val trailSil = if (lastLoud < 0) m.toLong else m - 1L - lastLoud
          // pair-mean decimation in the offset-binary domain (audioResample)
          val mOut = m / 2
          var rsSum = 0L; var rsMn = Long.MaxValue; var rsMx = Long.MinValue
          var k = 0
          while (k < mOut) {
            val v = (((sample(2 * k) + 32768) + (sample(2 * k + 1) + 32768)) / 2
              - 32768).toLong
            rsSum += v; if (v < rsMn) rsMn = v; if (v > rsMx) rsMx = v
            k += 1
          }
          var emax = 0L
          k = 0
          while (k < 15) { if (e(k) > emax) emax = e(k); k += 1 }
          var fp = 0L
          k = 0
          while (k < 15) {
            val nib = if (emax == 0L) 0L else e(k) * 15L / emax
            fp |= nib << (4 * k)
            k += 1
          }
          Row(id, df.getSampleRate.toInt, df.getChannels, m.toLong,
            sum, mn, mx, sumSq, cross, peak,
            nClipped, clipRuns, longestClip,
            nSilent, longestSil, leadSil, trailSil,
            mOut.toLong, rsSum, rsMn, rsMx, fp)
        }
      }(enc)
    }

  private val videoFrameSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    // per-frame channel sums over the decoded bottom-up BGR rows
    StructField("sum_red", LongType, nullable = false),
    StructField("sum_green", LongType, nullable = false),
    StructField("sum_blue", LongType, nullable = false),
    // per-frame 2× box-filter downsample aggregates (videoResize)
    StructField("rz_sum_red", LongType, nullable = false),
    StructField("rz_sum_green", LongType, nullable = false),
    StructField("rz_sum_blue", LongType, nullable = false)))

  /** ONE plain-DIB AVI build+parse per document, per-FRAME aggregates for
    * the whole video family's lossless leg (videoDecode / frameStats /
    * frameDedup / videoLumaRange / videoResize — 5 of the 9 video queries
    * used to rebuild and re-walk the same container each). The scene-cut
    * container family has its own pixel function and is memoized
    * separately ([[videoScenes]]); the MJPEG leg (frameSample) and the
    * three-container header sniff (binaryMeta) stay standalone — their
    * codec work IS the operator. */
  def videoFrames(spark: SparkSession, dir: String): DataFrame =
    vidCache(spark, dir) {
      val ids = Tables.spread(
        Tables.load(spark, dir, "documents").select(col("doc_id")))
      val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(videoFrameSchema)
      ids.mapPartitions { rows =>
        rows.flatMap { row =>
          val id = row.getLong(0)
          val container = Video.buildAviDib(id)
          val p = Video.parseAvi(container)
          require(p.handler == "DIB " && p.biCompression == 0L,
            s"clip $id: unexpected codec ${p.handler}/${p.biCompression}")
          val w = p.width; val h = p.height
          val st = Video.stride(w)
          val ow = (w + 1) / 2; val oh = (h + 1) / 2
          p.frames.zipWithIndex.map { case ((_, data), f) =>
            val (sr, sg, sb) = Video.dibSums(w, h, data)
            // per-frame 2× box filter (Video.videoResize's exact loop)
            var rzR = 0L; var rzG = 0L; var rzB = 0L
            var bx = 0
            while (bx < ow) {
              var by = 0
              while (by < oh) {
                var r = 0L; var g = 0L; var b = 0L; var n = 0L
                var dx = 0
                while (dx < 2 && 2 * bx + dx < w) {
                  var dy = 0
                  while (dy < 2 && 2 * by + dy < h) {
                    val x = 2 * bx + dx; val y = 2 * by + dy
                    val off = (h - 1 - y) * st + 3 * x // bottom-up BGR
                    b += data(off) & 0xff
                    g += data(off + 1) & 0xff
                    r += data(off + 2) & 0xff
                    n += 1; dy += 1
                  }
                  dx += 1
                }
                rzR += r / n; rzG += g / n; rzB += b / n
                by += 1
              }
              bx += 1
            }
            Row(id, f, w, h, p.nFrames, container.length.toLong,
              sr, sg, sb, rzR, rzG, rzB)
          }
        }
      }(enc)
    }

  /** Memoized scene-cut panel over the SCENES container family — the
    * shared core of sceneDetect (which serves it per clip) and
    * videoMotion (which histograms its SAD magnitudes): one build+parse+
    * frame-difference pass per corpus instead of one per query. */
  def videoScenes(spark: SparkSession, dir: String): DataFrame =
    sceneCache(spark, dir) {
      Video.sceneDetectOf(Tables.spread(
        Tables.load(spark, dir, "documents").select(col("doc_id"))))
    }

  /** The EXECUTABLE 100 TB shape the memo stands in for (r14 verdict
    * item 4): persist each decode-once table as parquet BUCKETED by
    * doc_id (hash-bucketed files + sorted within buckets, registered in
    * the session catalog — Spark's bucketing needs a table identity to
    * carry the bucket spec). Built once per corpus ingest; every
    * downstream per-document join or aggregation then reads its bucket
    * co-partitioned — zero exchanges on the decoded side, which
    * DecodedTablesSpec pins on the executed plan.
    *
    * Bucket count: a real deployment sizes this at corpus ingest
    * (rows/bucket ≈ tens of millions); the parameter is explicit so
    * DecodedTablesSpec can exercise non-default counts. Returns the
    * table names. */
  def writeDecodedTables(spark: SparkSession, dir: String, buckets: Int = 32,
      tablePrefix: String = "graft_decoded"): Seq[String] = {
    val tables: Seq[(String, DataFrame, Seq[String])] = Seq(
      (s"${tablePrefix}_images", images(spark, dir), Seq("doc_id")),
      (s"${tablePrefix}_audio", audio(spark, dir), Seq("doc_id")),
      (s"${tablePrefix}_video_frames", videoFrames(spark, dir),
        Seq("doc_id", "frame_idx")),
      // the scene panel is already one row per doc
      (s"${tablePrefix}_video_scenes", videoScenes(spark, dir), Seq("doc_id")))
    tables.map { case (name, df, sortCols) =>
      df.write.mode("overwrite")
        .bucketBy(buckets, "doc_id")
        .sortBy(sortCols.head, sortCols.tail: _*)
        .saveAsTable(name)
      name
    }
  }

  /** Read a persisted decode table back WITH its bucket spec (a plain
    * parquet path read would lose it — the catalog carries it). */
  def readDecodedTable(spark: SparkSession, name: String): DataFrame =
    spark.table(name)
}
