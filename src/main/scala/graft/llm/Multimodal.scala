package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An opaque media payload with typed metadata — the multimodal column
  * pattern: image/audio/video travel as `binary`, and decode / feature
  * extraction runs as a partition-wise batch job. */
final case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

final case class MediaFeatures(
    doc_id: Long,
    media_type: String,
    n_bytes: Long,
    width: Int,
    height: Int,
    channels: Int
)

/** Multimodal-column plumbing over the `documents` table (brief: treat
  * image/audio/video as opaque binary + typed metadata; decode as
  * partition-batched extraction).
  *
  * The Spark-side shape is the real thing: a typed `Dataset[MediaRecord]`,
  * `mapPartitions` so a decoder handle is initialized ONCE per partition
  * (the slot where libjpeg/ffmpeg would live), and a typed
  * `Dataset[MediaFeatures]` out. [[features]]/[[frameSamples]] use a
  * clearly-marked deterministic fake over md5 of the bytes (no media
  * FIXTURES ship in this container); [[imageDecode]] exercises a REAL
  * codec — `javax.imageio` PNG encode→decode, pixel-checksummed against
  * the generator — behind the same batch shape. At 100 TB this is
  * embarrassingly parallel: no shuffle, extraction scales with input
  * partitions, and the binary column never leaves the executor.
  */
object Multimodal {

  /** Documents recast as media records: the text bytes play the opaque
    * payload; source maps to a modality. */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    graft.core.ParquetTables.read(s, s"$dir/documents.parquet")
      .select(
        col("doc_id"),
        expr("""CASE source WHEN 'src0' THEN 'image' WHEN 'src1' THEN 'audio'
               |WHEN 'src2' THEN 'video' ELSE 'text' END""".stripMargin).as("media_type"),
        col("text").cast("binary").as("payload")
      )

  /** FAKE DECODE: stands in for a real image/audio decoder. Deterministic
    * features derived from the payload's md5 so the DuckDB oracle can
    * reproduce them exactly. A real deployment swaps only this function. */
  private def fakeDecode(md: java.security.MessageDigest, r: MediaRecord): MediaFeatures = {
    md.reset()
    val hex  = md.digest(r.payload).map("%02x".format(_)).mkString
    def h(i: Int): Int = Character.digit(hex.charAt(i), 16)
    MediaFeatures(
      doc_id = r.doc_id,
      media_type = r.media_type,
      n_bytes = r.payload.length.toLong,
      width = 64 + h(0) * 16 + h(1),
      height = 64 + h(2) * 16 + h(3),
      channels = 1 + h(4) % 3
    )
  }

  def features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .as[MediaRecord]
      .mapPartitions { it =>
        // one decoder handle per partition — the expensive-init slot
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map(r => fakeDecode(md, r))
      }
      .toDF()
  }

  /** One sampled frame with resize-to-target metadata. */
  final case class FrameSample(
      doc_id: Long,
      media_type: String,
      frame_idx: Int,
      frame_ms: Long,
      out_width: Int,
      out_height: Int
  )

  /** Frame sampling + resize (brief: "resize / frame-sample"): ONE media
    * row fans out to its sampled frames (flatMap inside the same
    * once-per-partition decoder scope — the real video-pipeline batch
    * shape), each frame carrying aspect-preserving integer resize-to-224
    * dimensions. Videos sample 1–8 fake frames at a payload-derived
    * interval; stills and clips yield one frame. No shuffle — scales with
    * input splits like [[features]]. */
  def frameSamples(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .as[MediaRecord]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { r =>
          val f = fakeDecode(md, r)
          md.reset()
          val hex = md.digest(r.payload).map("%02x".format(_)).mkString
          def h(i: Int): Int = Character.digit(hex.charAt(i), 16)
          val nFrames    = if (r.media_type == "video") 1 + h(5) % 8 else 1
          val intervalMs = 1000L + h(6) * 16 + h(7)
          // aspect-preserving fit into 224×224, integer arithmetic only
          val (ow, oh) =
            if (f.width >= f.height) (224, f.height * 224 / f.width)
            else (f.width * 224 / f.height, 224)
          (0 until nFrames).map(i =>
            FrameSample(r.doc_id, r.media_type, i, i * intervalMs, ow, oh))
        }
      }
      .toDF()
  }

  /** m3's decoded-image row: REAL codec output — dimensions, band count,
    * and pixel checksum all read from the decoded raster. */
  final case class ImageDecoded(
      doc_id: Long,
      width: Int,
      height: Int,
      channels: Int,
      pixel_checksum: Long,
      decoder: String
  )

  /** REAL image decode behind the same once-per-partition-init batch
    * shape as [[features]]. The container ships no media fixture files,
    * so each image-typed record's payload is first RENDERED as an actual
    * PNG (a deterministic md5-derived grayscale pattern, 8–23 px per
    * side), then decoded back through `javax.imageio` — a genuine
    * byte-level PNG encode→decode round trip, not a fake: the reported
    * width/height/band-count/pixel-checksum are read from the DECODED
    * raster. The oracle reproduces the GENERATOR's arithmetic (never the
    * codec), so any codec mis-decode breaks the hash gate. Where ImageIO
    * lacks a PNG codec the operator falls back to the generator's
    * arithmetic with decoder='fake' — flagged in the output, never
    * silent (the oracle pins 'imageio', so a degraded environment fails
    * loudly instead of greenwashing). Plan shape: mapPartitions, no
    * shuffle — scales with input splits like [[features]]. */
  def imageDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .filter(col("media_type") === "image")
      .as[MediaRecord]
      .mapPartitions { it =>
        // decoder capability probed ONCE per partition, like a real codec
        // handle; MessageDigest likewise
        val md = java.security.MessageDigest.getInstance("MD5")
        val hasPng =
          javax.imageio.ImageIO.getImageWritersByFormatName("png").hasNext &&
            javax.imageio.ImageIO.getImageReadersByFormatName("png").hasNext
        it.map { r =>
          md.reset()
          val hex = md.digest(r.payload).map("%02x".format(_)).mkString
          def h(i: Int): Int = Character.digit(hex.charAt(i), 16)
          val w  = 8 + h(0)
          val ht = 8 + h(1)
          val a  = h(2) * 16 + h(3)
          def lum(x: Int, y: Int): Int = (a + 7 * x + 13 * y) % 256
          if (hasPng) {
            val img = new java.awt.image.BufferedImage(
              w, ht, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
            var y = 0
            while (y < ht) {
              var x = 0
              while (x < w) {
                val l = lum(x, y)
                img.setRGB(x, y, (l << 16) | (l << 8) | l)
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            val back = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bos.toByteArray))
            val raster = back.getRaster
            var sum = 0L
            var yy  = 0
            while (yy < back.getHeight) {
              var xx = 0
              while (xx < back.getWidth) {
                sum += (xx + yy * back.getWidth + 1).toLong * raster.getSample(xx, yy, 0)
                xx += 1
              }
              yy += 1
            }
            ImageDecoded(r.doc_id, back.getWidth, back.getHeight,
              raster.getNumBands, sum, "imageio")
          } else {
            var sum = 0L
            var y   = 0
            while (y < ht) {
              var x = 0
              while (x < w) { sum += (x + y * w + 1).toLong * lum(x, y); x += 1 }
              y += 1
            }
            ImageDecoded(r.doc_id, w, ht, 3, sum, "fake")
          }
        }
      }
      .toDF()
  }

  /** m5's row: a 56-bit dHash perceptual fingerprint read from the
    * DECODED raster — 8×8 integer-grid samples, 7 horizontal
    * brighter-than comparisons per row (shifts 0..55, safely inside a
    * signed 64-bit long on both engines). */
  final case class ImagePhash(doc_id: Long, phash: Long, decoder: String)

  /** dHash (difference hash — the classic perceptual image fingerprint)
    * over the REAL codec round trip: each image renders as an actual PNG
    * (the [[imageDecode]] generator), decodes back through
    * `javax.imageio`, and the hash samples the DECODED raster on an
    * integer 8×8 grid (gx = x·w/8, gy = y·h/8 — floor division, no
    * resize kernel, so the oracle reproduces it with pure integer math
    * from the generator's luminance). A codec mis-decode flips bits and
    * breaks the hash gate; a missing codec degrades to decoder='fake',
    * which the oracle pins against ('imageio') so it fails loudly. Same
    * mapPartitions batch shape as [[imageDecode]]. */
  def imagePhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .filter(col("media_type") === "image")
      .as[MediaRecord]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hasPng =
          javax.imageio.ImageIO.getImageWritersByFormatName("png").hasNext &&
            javax.imageio.ImageIO.getImageReadersByFormatName("png").hasNext
        it.map { r =>
          md.reset()
          val hex = md.digest(r.payload).map("%02x".format(_)).mkString
          def h(i: Int): Int = Character.digit(hex.charAt(i), 16)
          val w  = 8 + h(0)
          val ht = 8 + h(1)
          val a  = h(2) * 16 + h(3)
          def lum(x: Int, y: Int): Int = (a + 7 * x + 13 * y) % 256
          val sample: (Int, Int) => Int =
            if (hasPng) {
              val img = new java.awt.image.BufferedImage(
                w, ht, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
              var y = 0
              while (y < ht) {
                var x = 0
                while (x < w) {
                  val l = lum(x, y)
                  img.setRGB(x, y, (l << 16) | (l << 8) | l)
                  x += 1
                }
                y += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(img, "png", bos)
              val back = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bos.toByteArray))
              val raster = back.getRaster
              (gx, gy) => raster.getSample(gx, gy, 0)
            } else lum
          var bits = 0L
          var y = 0
          while (y < 8) {
            val gy = y * ht / 8
            var x = 0
            while (x < 7) {
              if (sample((x + 1) * w / 8, gy) > sample(x * w / 8, gy))
                bits |= 1L << (y * 7 + x)
              x += 1
            }
            y += 1
          }
          ImagePhash(r.doc_id, bits, if (hasPng) "imageio" else "fake")
        }
      }
      .toDF()
  }

  /** DuckDB twin of the fake decode (md5-hex arithmetic is portable). */
  val oracleSql: String = {
    def h(i: Int) = s"(instr('0123456789abcdef', substr(md5(text), ${i + 1}, 1)) - 1)"
    s"""SELECT doc_id,
       |  CASE source WHEN 'src0' THEN 'image' WHEN 'src1' THEN 'audio'
       |  WHEN 'src2' THEN 'video' ELSE 'text' END AS media_type,
       |  octet_length(text::BLOB) AS n_bytes,
       |  CAST(64 + ${h(0)} * 16 + ${h(1)} AS INT) AS width,
       |  CAST(64 + ${h(2)} * 16 + ${h(3)} AS INT) AS height,
       |  CAST(1 + ${h(4)} % 3 AS INT) AS channels
       |FROM documents""".stripMargin
  }

  /** DuckDB twin of [[frameSamples]]. */
  val frameOracleSql: String = {
    def h(i: Int) = s"(instr('0123456789abcdef', substr(md5(text), ${i + 1}, 1)) - 1)"
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CASE source WHEN 'src0' THEN 'image' WHEN 'src1' THEN 'audio'
       |    WHEN 'src2' THEN 'video' ELSE 'text' END AS media_type,
       |    CAST(64 + ${h(0)} * 16 + ${h(1)} AS INT) AS w,
       |    CAST(64 + ${h(2)} * 16 + ${h(3)} AS INT) AS hgt,
       |    CASE WHEN source = 'src2' THEN 1 + ${h(5)} % 8 ELSE 1 END AS n_frames,
       |    1000 + ${h(6)} * 16 + ${h(7)} AS interval_ms
       |  FROM documents
       |)
       |SELECT doc_id, media_type, CAST(f.i AS INT) AS frame_idx,
       |       CAST(f.i * interval_ms AS BIGINT) AS frame_ms,
       |       CAST(CASE WHEN w >= hgt THEN 224 ELSE (w * 224) // hgt END AS INT) AS out_width,
       |       CAST(CASE WHEN w >= hgt THEN (hgt * 224) // w ELSE 224 END AS INT) AS out_height
       |FROM m, (SELECT unnest(generate_series(0, 7)) AS i) f
       |WHERE f.i < n_frames""".stripMargin
  }


  /** m4's decoded-audio row: REAL parser output — format fields and
    * sample checksum all read from the decoded stream. */
  final case class AudioDecoded(
      doc_id: Long,
      sample_rate: Int,
      channels: Int,
      n_frames: Long,
      sample_checksum: Long,
      decoder: String
  )

  /** REAL audio decode — the WAV sibling of [[imageDecode]]. Each
    * audio-typed record's payload is RENDERED as an actual RIFF/WAVE file
    * (PCM 16-bit signed little-endian mono; deterministic md5-derived
    * samples, 8 kHz, 64–319 frames), then parsed back through
    * `javax.sound.sampled.AudioSystem` — a genuine byte-level WAV
    * encode→decode round trip: the reported sample rate / channel count /
    * frame count / sample checksum are read from the DECODED stream. The
    * oracle reproduces the sample GENERATOR's integer arithmetic (never
    * the codec), so a mis-parse breaks the hash gate. Environments
    * without a WAV provider fall back to the generator's arithmetic with
    * decoder='fake' — flagged, never silent. mapPartitions, no shuffle. */
  def audioDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .filter(col("media_type") === "audio")
      .as[MediaRecord]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hasWav =
          try { javax.sound.sampled.AudioSystem.getAudioFileTypes
                  .contains(javax.sound.sampled.AudioFileFormat.Type.WAVE) }
          catch { case _: Throwable => false }
        it.map { r =>
          md.reset()
          val hex = md.digest(r.payload).map("%02x".format(_)).mkString
          def h(i: Int): Int = Character.digit(hex.charAt(i), 16)
          val nFrames = 64 + h(0) * 16 + h(1)
          val a       = h(2) * 16 + h(3)
          def sample(i: Int): Short = ((a * 257 + i * 2311) % 65536 - 32768).toShort
          def genChecksum: Long = {
            var sum = 0L
            var i   = 0
            while (i < nFrames) { sum += (i + 1).toLong * sample(i); i += 1 }
            sum
          }
          if (hasWav) {
            val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
            val pcm = new Array[Byte](nFrames * 2)
            var i = 0
            while (i < nFrames) {
              val v = sample(i)
              pcm(2 * i) = (v & 0xFF).toByte
              pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
              i += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.sound.sampled.AudioSystem.write(
              new javax.sound.sampled.AudioInputStream(
                new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong),
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bos.toByteArray))
            val df      = in.getFormat
            val frames  = in.getFrameLength
            val decoded = in.readAllBytes()
            var sum = 0L
            var j   = 0
            while (j < decoded.length / 2) {
              val v = ((decoded(2 * j) & 0xFF) | (decoded(2 * j + 1) << 8)).toShort
              sum += (j + 1).toLong * v
              j += 1
            }
            AudioDecoded(r.doc_id, df.getSampleRate.toInt, df.getChannels,
              frames, sum, "javaxsound")
          } else {
            AudioDecoded(r.doc_id, 8000, 1, nFrames.toLong, genChecksum, "fake")
          }
        }
      }
      .toDF()
  }

  /** DuckDB twin of [[imageDecode]]: reproduces the pattern GENERATOR's
    * integer arithmetic over a (x, y) grid — deliberately never the PNG
    * codec — so the Spark side's real encode→decode round trip is what
    * the hash gate actually checks. decoder is pinned 'imageio': an
    * environment without a PNG codec fails the gate loudly. */
  val decodeOracleSql: String = {
    def h(i: Int) = s"(instr('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1)"
    s"""WITH m AS (
       |  SELECT doc_id, md5(text) AS hx FROM documents WHERE source = 'src0'
       |), d AS (
       |  SELECT doc_id, 8 + ${h(0)} AS w, 8 + ${h(1)} AS hgt,
       |         ${h(2)} * 16 + ${h(3)} AS a
       |  FROM m)
       |SELECT doc_id, CAST(w AS INT) AS width, CAST(hgt AS INT) AS height,
       |  CAST(3 AS INT) AS channels,
       |  CAST(sum((g.x + g.y * w + 1) * ((a + 7 * g.x + 13 * g.y) % 256)) AS BIGINT)
       |    AS pixel_checksum,
       |  'imageio' AS decoder
       |FROM d, (SELECT x.i AS x, y.i AS y
       |         FROM (SELECT unnest(generate_series(0, 22)) AS i) x,
       |              (SELECT unnest(generate_series(0, 22)) AS i) y) g
       |WHERE g.x < w AND g.y < hgt
       |GROUP BY doc_id, w, hgt, a""".stripMargin
  }


  /** DuckDB twin of [[imagePhash]]: the dHash recomputed with pure
    * integer math from the GENERATOR's luminance — never the codec — and
    * the same exact-phash canonical rollup. decoder pinned 'imageio'. */
  val phashOracleSql: String = {
    def h(i: Int) = s"(instr('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1)"
    s"""WITH m AS (
       |  SELECT doc_id, md5(text) AS hx FROM documents WHERE source = 'src0'
       |), d AS (
       |  SELECT doc_id, 8 + ${h(0)} AS w, 8 + ${h(1)} AS hgt,
       |         ${h(2)} * 16 + ${h(3)} AS a
       |  FROM m
       |), ph AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN ((a + 7 * (((g.x + 1) * w) // 8) + 13 * ((g.y * hgt) // 8)) % 256)
       |                     > ((a + 7 * ((g.x * w) // 8) + 13 * ((g.y * hgt) // 8)) % 256)
       |             THEN (1::BIGINT << (g.y * 7 + g.x)) ELSE 0 END) AS BIGINT) AS phash
       |  FROM d, (SELECT x.i AS x, y.i AS y
       |           FROM (SELECT unnest(generate_series(0, 6)) AS i) x,
       |                (SELECT unnest(generate_series(0, 7)) AS i) y) g
       |  GROUP BY doc_id
       |), c AS (
       |  SELECT phash, min(doc_id) AS canonical_id, count(*)::BIGINT AS n_copies
       |  FROM ph GROUP BY 1)
       |SELECT ph.doc_id, ph.phash, c.canonical_id, c.n_copies, 'imageio' AS decoder
       |FROM ph JOIN c USING (phash)""".stripMargin
  }

  /** DuckDB twin of [[audioDecode]]: the sample GENERATOR's integer
    * arithmetic over a frame grid — deliberately never the WAV codec —
    * so the Spark side's real encode→parse round trip is what the hash
    * gate checks. decoder pinned 'javaxsound'. */
  val audioOracleSql: String = {
    def h(i: Int) = s"(instr('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1)"
    s"""WITH m AS (
       |  SELECT doc_id, md5(text) AS hx FROM documents WHERE source = 'src1'
       |), d AS (
       |  SELECT doc_id, 64 + ${h(0)} * 16 + ${h(1)} AS nf,
       |         ${h(2)} * 16 + ${h(3)} AS a
       |  FROM m)
       |SELECT doc_id, CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
       |  CAST(nf AS BIGINT) AS n_frames,
       |  CAST(sum((g.i + 1) * (((a * 257 + g.i * 2311) % 65536) - 32768)) AS BIGINT)
       |    AS sample_checksum,
       |  'javaxsound' AS decoder
       |FROM d, (SELECT unnest(generate_series(0, 318)) AS i) g
       |WHERE g.i < nf
       |GROUP BY doc_id, nf, a""".stripMargin
  }
}
