package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.sources.Tables

/** Multimodal-column plumbing: opaque `binary` payload columns with typed
  * metadata, plus a batched decode/feature-extraction stage.
  *
  * The decode is REAL across all three modalities: qm02 round-trips every
  * document through an actual 24-bit BMP image ([[BmpCodec]]), qm04
  * through an actual RIFF/WAVE 16-bit PCM file ([[WavCodec]]), and qm05
  * through an actual YUV4MPEG2 stream ([[Y4mCodec]]) — all pure JVM,
  * since this container ships no media libraries; BMP/WAV/Y4M are the
  * image/audio/video formats a dependency-free decoder can honestly
  * implement. The media content is synthesized deterministically from the
  * document text (the stand-in for "bytes the generator wrote"), so the
  * DuckDB oracle can state the expected features from the text alone —
  * each gate then proves its decoder recovered header fields, layout
  * (row padding / channel interleave / plane order), and every sample
  * exactly. The plumbing below is codec-agnostic:
  *   - binary columns carried through scans/projections without copies,
  *   - a typed per-partition batch API ([[decodeFeatures]]) with the same
  *     shape as a vectorized decode stage (iterator-in/iterator-out per
  *     partition, so codec init amortizes per batch, exactly like
  *     `mapInPandas` does in PySpark),
  *   - fixed-width feature schema out, partitioning preserved (no shuffle).
  */
object Multimodal {

  // frame-count formula shared by qm01 metadata and qm03 expansion — keep
  // the Scala and SQL forms in lockstep
  private val nFramesSql = "1 + n_chars % 10"
  private def nFramesCol = expr(nFramesSql)

  final case class MediaRow(doc_id: Long, text: String)
  final case class MediaFeatures(
      doc_id: Long,
      n_bytes: Int,
      width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Deterministic image synthesis for doc (id, text): a (4 + id%5) ×
    * (3 + id%3) RGB image whose pixel k samples the text at evenly-spaced
    * positions — r = code, g = 2·code mod 256, b = (code + k) mod 256.
    * This is the test-harness stand-in for "the generator wrote image
    * bytes"; the oracle restates the same arithmetic over the text. */
  private def synthPixels(id: Long, text: String): (Int, Int, Array[Int]) = {
    val w = (4 + id % 5).toInt
    val h = (3 + id % 3).toInt
    val n = w * h
    // Code points, not UTF-16 units: the qm02 oracle indexes with DuckDB
    // substr/unicode/length (all code-point based), so a non-BMP (astral)
    // character must shift positions identically on both sides.
    val cps = text.codePoints().toArray
    val step = cps.length / n
    val px = Array.tabulate(n) { k =>
      val code = cps(k * step)
      ((code % 256) << 16) | ((code * 2 % 256) << 8) | ((code + k) % 256)
    }
    (w, h, px)
  }

  /** Batched encode→decode→feature-extract through the REAL BMP codec:
    * iterator-in/iterator-out per partition (codec init amortizes per
    * partition, before the iterator map). Every output field comes from
    * the DECODED image — header width/height, payload size, per-channel
    * pixel means (exact integer sums, one IEEE division) — so the gate
    * checks the decoder, not the synthesis. */
  def decodeFeatures(docs: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { rows =>
      rows.map { r =>
        val (w, h, px) = synthPixels(r.doc_id, r.text)
        val payload = BmpCodec.encode(w, h, px)
        val img = BmpCodec.decode(payload)
        var sr = 0L; var sg = 0L; var sb = 0L
        img.pixels.foreach { p =>
          sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
        }
        val n = img.pixels.length
        MediaFeatures(r.doc_id, payload.length, img.width, img.height,
          sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
      }
    }
  }

  // ---------------------------------------------------------------------
  // qm01: binary payload + typed metadata — documents as stand-in media
  // blobs: binary column via encode(), metadata derived per row, content
  // fingerprint. (The blob itself is not output — the driver compare works
  // on the flat metadata columns.)
  // ---------------------------------------------------------------------
  private def qm01(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        md5(col("text")).as("content_md5"),
        (col("n_chars") % 640).as("width"),
        ((col("doc_id") * 37) % 480).as("height"),
        nFramesCol.as("n_frames"))

  private val qm01Sql =
    s"""SELECT doc_id,
       |  octet_length(encode(text)) AS n_bytes,
       |  md5(text) AS content_md5,
       |  n_chars % 640 AS width,
       |  (doc_id * 37) % 480 AS height,
       |  $nFramesSql AS n_frames
       |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // qm02: the REAL decode stage run through the typed batch API — each doc
  // becomes an actual 24-bit BMP (synthesized from its text, dimensions
  // varying with doc_id so row padding 0–3 bytes is exercised), decoded by
  // BmpCodec, and every output column comes from the decoded image. The
  // oracle restates the synthesis arithmetic from the text alone: a
  // mismatch anywhere in the codec (header fields, stride, BGR order,
  // bottom-up rows) breaks the hash gate.
  // ---------------------------------------------------------------------
  private def qm02(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .filter(length(col("text")) >= 40) // >= max npix, so step >= 1
      .select(col("doc_id"), col("text")).as[MediaRow]
    decodeFeatures(docs).toDF()
  }

  private[graft] val qm02Sql = {
    def chan(f: String, alias: String) =
      s"CAST(CAST(list_sum(list_transform(range(0, w*h), k -> $f)) AS BIGINT) AS DOUBLE) / (w*h) AS $alias"
    val code = "unicode(substr(text, 1 + k * (length(text) // (w*h)), 1))"
    s"""SELECT doc_id,
       |  CAST(54 + h * (((3*w + 3) // 4) * 4) AS INT) AS n_bytes,
       |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       |  ${chan(s"$code % 256", "mean_r")},
       |  ${chan(s"($code * 2) % 256", "mean_g")},
       |  ${chan(s"($code + k) % 256", "mean_b")}
       |FROM (SELECT doc_id, text, 4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h
       |      FROM documents WHERE length(text) >= 40)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // qm09: PERCEPTUAL-HASH image dedup — the multimodal member of the
  // dedup family: each doc's image (qm02's synthesis, encoded and decoded
  // through the REAL BmpCodec) is reduced to an average-hash (aHash,
  // public method: one bit per pixel, set when the pixel's integer luma
  // strictly exceeds the image mean — 299r+587g+114b milli-luma, compared
  // as l·n > Σl so the gate is integer-exact), prefixed with the
  // dimensions so only same-geometry images can collide. Images whose
  // pixels differ only below the luma-mean threshold collapse to one
  // hash — the perceptual analogue of qd01's exact groups. Dedup
  // semantics are qd01's: keeper = min doc_id per hash group.
  // 100 TB shape: per-row decode+hash projection (mapPartitions codec,
  // no shuffle), ONE phash-keyed agg shuffle, merge-pinned rejoin (both
  // sides corpus-sized — never broadcast). The oracle recomputes the
  // bit string from the synthesis arithmetic alone, so any codec defect
  // (stride, BGR order, bottom-up rows) breaks the hash gate.
  // ---------------------------------------------------------------------
  final case class PHashRow(doc_id: Long, phash: String)

  /** Encode→decode→aHash per row (package-visible so the spec can plant
    * duplicate/distinct image pairs and pin the threshold semantics). */
  private[graft] def perceptualHash(docs: Dataset[MediaRow]): Dataset[PHashRow] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { rows =>
      rows.map { r =>
        val (w, h, px) = synthPixels(r.doc_id, r.text)
        val img = BmpCodec.decode(BmpCodec.encode(w, h, px))
        val n = img.pixels.length
        val lum = img.pixels.map(p =>
          299L * ((p >> 16) & 0xFF) + 587L * ((p >> 8) & 0xFF) + 114L * (p & 0xFF))
        val tot = lum.sum
        val bits = lum.map(l => if (l * n > tot) '1' else '0').mkString
        PHashRow(r.doc_id, s"${img.width}x${img.height}:$bits")
      }
    }
  }

  private def qm09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .filter(length(col("text")) >= 40) // qm02's bound: >= max npix
      .select(col("doc_id"), col("text")).as[MediaRow]
    val ph = perceptualHash(docs).toDF()
    val groups = ph.groupBy(col("phash")).agg(
      min(col("doc_id")).as("keeper_id"), count(lit(1)).as("group_n"))
    ph.join(groups.hint("merge"), Seq("phash"))
      .select(col("doc_id"), col("phash"), col("keeper_id"), col("group_n"),
        (col("doc_id") =!= col("keeper_id")).as("is_dup"))
  }

  private val qm09Sql = {
    def code(v: String) =
      s"unicode(substr(text, 1 + $v * (length(text) // (w*h)), 1))"
    def luma(v: String) =
      s"299*((${code(v)}) % 256) + 587*(((${code(v)}) * 2) % 256) + " +
        s"114*(((${code(v)}) + $v) % 256)"
    s"""WITH base AS (
       |  SELECT doc_id, text, 4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h,
       |    list_sum(list_transform(range(0, (4 + doc_id % 5) * (3 + doc_id % 3)),
       |      j -> ${luma("j").replace("w*h", "((4 + doc_id % 5) * (3 + doc_id % 3))")})) AS tot
       |  FROM documents WHERE length(text) >= 40),
       |ph AS (
       |  SELECT doc_id,
       |    w || 'x' || h || ':' ||
       |    list_aggregate(list_transform(range(0, w*h),
       |      k -> CASE WHEN (${luma("k")}) * (w*h) > tot
       |           THEN '1' ELSE '0' END), 'string_agg', '') AS phash
       |  FROM base),
       |g AS (SELECT phash, min(doc_id) AS keeper_id,
       |        CAST(count(*) AS BIGINT) AS group_n
       |      FROM ph GROUP BY phash)
       |SELECT p.doc_id AS doc_id, p.phash AS phash, g.keeper_id AS keeper_id,
       |  g.group_n AS group_n, p.doc_id <> g.keeper_id AS is_dup
       |FROM ph p JOIN g USING (phash)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // qm03: frame sampling — 1→N expansion of a media blob into per-frame
  // rows (`n_frames` from the metadata), each with a deterministic frame
  // fingerprint. The explode keeps partitioning; no shuffle.
  // ---------------------------------------------------------------------
  private def qm03(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("n_frames", nFramesCol)
      .select(col("doc_id"), col("n_frames"),
        explode(expr("sequence(0L, n_frames - 1)")).as("frame_idx"))
      .withColumn("frame_md5",
        md5(concat(col("doc_id").cast("string"), lit(":"), col("frame_idx").cast("string"))))

  private val qm03Sql =
    s"""SELECT doc_id, n_frames, frame_idx,
       |  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(frame_idx AS VARCHAR)) AS frame_md5
       |FROM (SELECT doc_id, $nFramesSql AS n_frames,
       |        unnest(range(0, $nFramesSql)) AS frame_idx
       |      FROM documents)""".stripMargin

  // ---------------------------------------------------------------------
  // qm04: the REAL audio decode stage — each doc becomes an actual
  // RIFF/WAVE 16-bit PCM file (samples synthesized from its text, sample
  // rate varying with doc_id so the fmt-chunk parse is load-bearing),
  // decoded by WavCodec, and every output column comes from the decoded
  // samples: payload size, header sample rate, sample count, peak
  // amplitude, exact integer energy (Σs²), and zero-crossing count. The
  // oracle restates the synthesis arithmetic from the text alone: a
  // mismatch anywhere in the codec (chunk walk, interleave, 16-bit LE
  // sign handling) breaks the hash gate.
  // ---------------------------------------------------------------------
  final case class AudioFeatures(
      doc_id: Long, n_bytes: Int, sample_rate: Int, n_samples: Int,
      peak_abs: Int, sum_sq: Long, zero_crossings: Int)

  /** Deterministic PCM synthesis for doc (id, text): n = 16 + id%17 mono
    * samples, sample k drawn from the text at evenly-spaced code-point
    * positions — s_k = ((code·31 + k·7) mod 4001) − 2000, a signed value
    * well inside int16. The oracle restates the same arithmetic. */
  private def synthPcm(id: Long, text: String): (Int, Array[Short]) = {
    val n = (16 + id % 17).toInt
    val rate = (8000 * (1 + id % 3)).toInt
    val cps = text.codePoints().toArray
    val step = cps.length / n
    val s = Array.tabulate(n) { k =>
      (((cps(k * step) * 31 + k * 7) % 4001) - 2000).toShort
    }
    (rate, s)
  }

  /** Batched encode→decode→feature-extract through the REAL WAV codec —
    * same iterator-in/iterator-out shape as [[decodeFeatures]]. Every
    * output field comes from the DECODED audio. */
  def audioFeatures(docs: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { rows =>
      rows.map { r =>
        val (rate, pcm) = synthPcm(r.doc_id, r.text)
        val payload = WavCodec.encode(rate, Array(pcm))
        val wav = WavCodec.decode(payload)
        val s = wav.samples(0)
        var peak = 0; var sumSq = 0L; var zc = 0
        var i = 0
        while (i < s.length) {
          val v = s(i).toInt
          if (math.abs(v) > peak) peak = math.abs(v)
          sumSq += v.toLong * v
          if (i > 0 && v * s(i - 1).toInt < 0) zc += 1
          i += 1
        }
        AudioFeatures(r.doc_id, payload.length, wav.sampleRate, wav.numSamples,
          peak, sumSq, zc)
      }
    }
  }

  private def qm04(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .filter(length(col("text")) >= 40) // >= max n_samples, so step >= 1
      .select(col("doc_id"), col("text")).as[MediaRow]
    audioFeatures(docs).toDF()
  }

  private val qm04Sql = {
    // s_k restated from the text: code point at the k-th evenly-spaced
    // position, mapped into a signed sample
    def samp(k: String) =
      s"((unicode(substr(text, 1 + ($k) * (length(text) // n), 1)) * 31 + ($k) * 7) % 4001 - 2000)"
    s"""SELECT doc_id,
       |  CAST(44 + 2 * n AS INT) AS n_bytes,
       |  CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
       |  CAST(n AS INT) AS n_samples,
       |  CAST(list_max(list_transform(range(0, n), k -> abs(${samp("k")}))) AS INT) AS peak_abs,
       |  CAST(list_sum(list_transform(range(0, n), k -> ${samp("k")} * ${samp("k")})) AS BIGINT) AS sum_sq,
       |  CAST(list_sum(list_transform(range(1, n), k ->
       |    CASE WHEN ${samp("k")} * ${samp("k - 1")} < 0 THEN 1 ELSE 0 END)) AS INT) AS zero_crossings
       |FROM (SELECT doc_id, text, 16 + doc_id % 17 AS n
       |      FROM documents WHERE length(text) >= 40)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // qm05: the REAL video decode + frame sampling — each doc becomes an
  // actual multi-frame YUV4MPEG2 stream (C444 planes synthesized from its
  // text, frame count and frame rate varying with doc_id so the header
  // parse and frame walk are load-bearing), decoded by Y4mCodec, then
  // sampled at stride 2 (every even frame — the canonical "sample every
  // k-th frame" pipeline stage). Per kept frame, exact per-plane byte
  // sums from the DECODED planes.
  // ---------------------------------------------------------------------
  final case class VideoFrameFeatures(
      doc_id: Long, frame_idx: Int, n_frames: Int, fps_num: Int,
      y_sum: Long, u_sum: Long, v_sum: Long)

  /** Deterministic C444 synthesis for doc (id, text): nf = 2 + id%4 frames
    * of (4 + id%3)×(2 + id%2); pixel p of frame f samples the text at
    * evenly-spaced code-point positions — Y = (code + f·17) mod 256,
    * U = (code·3 + f) mod 256, V = (code·5 + p) mod 256. */
  private def synthFrames(id: Long, text: String): (Int, Int, Array[Array[Byte]]) = {
    val w = (4 + id % 3).toInt
    val h = (2 + id % 2).toInt
    val nf = (2 + id % 4).toInt
    val npix = w * h
    val cps = text.codePoints().toArray
    val step = cps.length / npix
    val frames = Array.tabulate(nf) { f =>
      val bytes = new Array[Byte](npix * 3)
      var p = 0
      while (p < npix) {
        val code = cps(p * step)
        bytes(p) = ((code + f * 17) % 256).toByte
        bytes(npix + p) = ((code * 3 + f) % 256).toByte
        bytes(2 * npix + p) = ((code * 5 + p) % 256).toByte
        p += 1
      }
      bytes
    }
    (w, h, frames)
  }

  /** Batched encode→decode→frame-sample through the REAL Y4M codec: the
    * whole stream is encoded, decoded, and every even-indexed DECODED
    * frame reduced to exact per-plane sums. 1→N expansion, partitioning
    * preserved (no shuffle). */
  def sampleVideoFrames(docs: Dataset[MediaRow]): Dataset[VideoFrameFeatures] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { rows =>
      rows.flatMap { r =>
        val (w, h, frames) = synthFrames(r.doc_id, r.text)
        val fpsNum = (24 + r.doc_id % 2).toInt
        val payload = Y4mCodec.encode(w, h, fpsNum, 1, frames.toSeq)
        val vid = Y4mCodec.decode(payload)
        val npix = vid.width * vid.height
        vid.frames.indices.collect { case f if f % 2 == 0 =>
          val bytes = vid.frames(f)
          var ys = 0L; var us = 0L; var vs = 0L
          var p = 0
          while (p < npix) {
            ys += bytes(p) & 0xFF
            us += bytes(npix + p) & 0xFF
            vs += bytes(2 * npix + p) & 0xFF
            p += 1
          }
          VideoFrameFeatures(r.doc_id, f, vid.frames.length, vid.fpsNum,
            ys, us, vs)
        }
      }
    }
  }

  private def qm05(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .filter(length(col("text")) >= 40) // >= max w*h, so step >= 1
      .select(col("doc_id"), col("text")).as[MediaRow]
    sampleVideoFrames(docs).toDF()
  }

  private val qm05Sql = {
    val code = "unicode(substr(text, 1 + p * (length(text) // (w*h)), 1))"
    def plane(f: String, alias: String) =
      s"CAST(list_sum(list_transform(range(0, w*h), p -> $f)) AS BIGINT) AS $alias"
    s"""SELECT doc_id, CAST(f AS INT) AS frame_idx, CAST(nf AS INT) AS n_frames,
       |  CAST(24 + doc_id % 2 AS INT) AS fps_num,
       |  ${plane(s"($code + f*17) % 256", "y_sum")},
       |  ${plane(s"($code*3 + f) % 256", "u_sum")},
       |  ${plane(s"($code*5 + p) % 256", "v_sum")}
       |FROM (SELECT doc_id, text, w, h, nf, unnest(range(0, nf)) AS f
       |      FROM (SELECT doc_id, text, 4 + doc_id % 3 AS w, 2 + doc_id % 2 AS h,
       |              2 + doc_id % 4 AS nf
       |            FROM documents WHERE length(text) >= 40))
       |WHERE f % 2 = 0""".stripMargin
  }

  // ---------------------------------------------------------------------
  // qm06: binaryFile-format ingest — the path multimodal data actually
  // arrives by at scale: a DIRECTORY OF MEDIA FILES, not rows in a table.
  // Fixture: an executor-side job writes one real .wav per document
  // (doc_id < 64) into a scratch dir; the gated read then uses Spark's
  // `binaryFile` source (one file = one row: path, length, content),
  // extracts the doc id from the file NAME, decodes `content` through
  // WavCodec, and emits features from the decoded samples. The oracle
  // restates qm04's synthesis arithmetic over the same id range — so the
  // gate spans the full loop: file write → directory scan → per-file
  // binary → real codec → features. At 100 TB the source partitions by
  // files (maxPartitionBytes over file sizes), so a billion-file corpus
  // scans in parallel with no driver involvement beyond listing. (The
  // executor-side fixture WRITE is a local-mode test device — all tasks
  // share one filesystem here; production corpora arrive on shared
  // storage and only the gated READ path is the operator.)
  // ---------------------------------------------------------------------
  private def wavDir(d: String): String =
    graft.store.PartitionedStore.scratchDir("wavfiles", d)

  private def qm06(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = wavDir(d)
    val dirF = new java.io.File(dir)
    dirF.mkdirs()
    // drop stale fixtures: if the documents table at this path changed
    // within one JVM (e.g. a regenerated soak corpus), leftover doc_*.wav
    // from the earlier content would be swept up by the binaryFile scan
    Option(dirF.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".wav")).foreach(_.delete())
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") < 64 && length(col("text")) >= 40)
      .select(col("doc_id"), col("text")).as[MediaRow]
    // distributed fixture write: each task writes its rows' files
    docs.foreachPartition { rows: Iterator[MediaRow] =>
      rows.foreach { r =>
        val (rate, pcm) = synthPcm(r.doc_id, r.text)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, s"doc_${r.doc_id}.wav"),
          WavCodec.encode(rate, Array(pcm)))
      }
    }
    val files = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.wav").load(dir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.wav$", 1).cast("long").as("doc_id"),
        col("length").cast("int").as("n_bytes"),
        col("content"))
    files.select(col("doc_id"), col("n_bytes"), col("content"))
      .as[(Long, Int, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, nBytes, payload) =>
          val wav = WavCodec.decode(payload)
          val samples = wav.samples(0)
          var peak = 0; var sumSq = 0L
          var i = 0
          while (i < samples.length) {
            val v = samples(i).toInt
            if (math.abs(v) > peak) peak = math.abs(v)
            sumSq += v.toLong * v
            i += 1
          }
          (id, nBytes, wav.sampleRate, wav.numSamples, peak, sumSq)
        }
      }
      .toDF("doc_id", "n_bytes", "sample_rate", "n_samples", "peak_abs", "sum_sq")
  }

  private val qm06Sql = {
    def samp(k: String) =
      s"((unicode(substr(text, 1 + ($k) * (length(text) // n), 1)) * 31 + ($k) * 7) % 4001 - 2000)"
    s"""SELECT doc_id,
       |  CAST(44 + 2 * n AS INT) AS n_bytes,
       |  CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
       |  CAST(n AS INT) AS n_samples,
       |  CAST(list_max(list_transform(range(0, n), k -> abs(${samp("k")}))) AS INT) AS peak_abs,
       |  CAST(list_sum(list_transform(range(0, n), k -> ${samp("k")} * ${samp("k")})) AS BIGINT) AS sum_sq
       |FROM (SELECT doc_id, text, 16 + doc_id % 17 AS n
       |      FROM documents WHERE doc_id < 64 AND length(text) >= 40)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // qm07: the REAL compressed-image decode stage — each doc becomes an
  // actual 8-bit truecolor PNG (zlib-deflated filtered scanlines via
  // [[PngCodec]]; the JDK's Inflater supplies the zlib half, so this is
  // the first COMPRESSED format in the suite). The encoder cycles filter
  // types per row and every height here is ≥ 5, so each image exercises
  // all five defilter paths (None/Sub/Up/Average/Paeth). Every output
  // column comes from the DECODED image; beyond qm02's channel means, a
  // position-weighted checksum Σ (k+1)·(r + 2g + 3b) pins per-PIXEL
  // placement — a defilter bug that scrambled positions but preserved
  // totals would still break the gate. The oracle restates the synthesis
  // arithmetic from the text alone. (Compressed payload size is
  // deliberately NOT gated: deflate output is a zlib-implementation
  // detail, not a decode correctness fact.)
  // ---------------------------------------------------------------------
  final case class PngFeatures(
      doc_id: Long,
      width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double,
      pos_checksum: Long)

  /** w ∈ 3..6, h ∈ 5..7 (h ≥ 5 ⇒ all filter types), pixel k samples the
    * text codepoints at evenly-spaced positions. */
  private def synthPngPixels(id: Long, text: String): (Int, Int, Array[Int]) = {
    val w = (3 + id % 4).toInt
    val h = (5 + id % 3).toInt
    val n = w * h
    val cps = text.codePoints().toArray
    val step = cps.length / n
    val px = Array.tabulate(n) { k =>
      val code = cps(k * step)
      ((code % 256) << 16) | ((code * 3 % 256) << 8) | ((code + 5 * k) % 256)
    }
    (w, h, px)
  }

  private def qm07(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .filter(length(col("text")) >= 42) // >= max npix, so step >= 1
      .select(col("doc_id"), col("text")).as[MediaRow]
    docs.mapPartitions { rows =>
      rows.map { r =>
        val (w, h, px) = synthPngPixels(r.doc_id, r.text)
        val img = PngCodec.decode(PngCodec.encode(w, h, px))
        var sr = 0L; var sg = 0L; var sb = 0L; var chk = 0L
        var k = 0
        while (k < img.pixels.length) {
          val p = img.pixels(k)
          val red = (p >> 16) & 0xFF; val grn = (p >> 8) & 0xFF; val blu = p & 0xFF
          sr += red; sg += grn; sb += blu
          chk += (k + 1).toLong * (red + 2 * grn + 3 * blu)
          k += 1
        }
        val n = img.pixels.length
        PngFeatures(r.doc_id, img.width, img.height,
          sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, chk)
      }
    }.toDF()
  }

  private val qm07Sql = {
    def chan(f: String, alias: String) =
      s"CAST(CAST(list_sum(list_transform(range(0, w*h), k -> $f)) AS BIGINT) AS DOUBLE) / (w*h) AS $alias"
    val code = "unicode(substr(text, 1 + k * (length(text) // (w*h)), 1))"
    val r = s"$code % 256"
    val g = s"($code * 3) % 256"
    val bb = s"($code + 5*k) % 256"
    s"""SELECT doc_id,
       |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       |  ${chan(r, "mean_r")},
       |  ${chan(g, "mean_g")},
       |  ${chan(bb, "mean_b")},
       |  CAST(list_sum(list_transform(range(0, w*h),
       |    k -> (k + 1) * (($r) + 2*($g) + 3*($bb)))) AS BIGINT) AS pos_checksum
       |FROM (SELECT doc_id, text, 3 + doc_id % 4 AS w, 5 + doc_id % 3 AS h
       |      FROM documents WHERE length(text) >= 42)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // qm08: compressed media through the ARRIVAL path — qm06's
  // directory-of-files ingest with qm07's PNG codec: real .png files on
  // disk (deflate-compressed, CRC'd chunks), a binaryFile scan, per-file
  // decode, features from decoded pixels. Compressed payload size is a
  // deflate detail, so unlike qm06 the file length is NOT gated — the
  // gate is the decoded geometry + channel means + position checksum
  // (qm07's oracle arithmetic over the qm06 id range). Same 100 TB shape:
  // the source partitions by files; decode is per-file executor work.
  // ---------------------------------------------------------------------
  private def pngDir(d: String): String =
    graft.store.PartitionedStore.scratchDir("pngfiles", d)

  private def qm08(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = pngDir(d)
    val dirF = new java.io.File(dir)
    dirF.mkdirs()
    Option(dirF.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".png")).foreach(_.delete())
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") < 64 && length(col("text")) >= 42)
      .select(col("doc_id"), col("text")).as[MediaRow]
    docs.foreachPartition { rows: Iterator[MediaRow] =>
      rows.foreach { r =>
        val (w, h, px) = synthPngPixels(r.doc_id, r.text)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, s"doc_${r.doc_id}.png"),
          PngCodec.encode(w, h, px))
      }
    }
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.png$", 1).cast("long").as("doc_id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val img = PngCodec.decode(payload)
          var sr = 0L; var sg = 0L; var sb = 0L; var chk = 0L
          var k = 0
          while (k < img.pixels.length) {
            val p = img.pixels(k)
            val red = (p >> 16) & 0xFF; val grn = (p >> 8) & 0xFF; val blu = p & 0xFF
            sr += red; sg += grn; sb += blu
            chk += (k + 1).toLong * (red + 2 * grn + 3 * blu)
            k += 1
          }
          val n = img.pixels.length
          PngFeatures(id, img.width, img.height,
            sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, chk)
        }
      }.toDF()
  }

  private val qm08Sql = {
    def chan(f: String, alias: String) =
      s"CAST(CAST(list_sum(list_transform(range(0, w*h), k -> $f)) AS BIGINT) AS DOUBLE) / (w*h) AS $alias"
    val code = "unicode(substr(text, 1 + k * (length(text) // (w*h)), 1))"
    val r = s"$code % 256"
    val g = s"($code * 3) % 256"
    val bb = s"($code + 5*k) % 256"
    s"""SELECT doc_id,
       |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       |  ${chan(r, "mean_r")},
       |  ${chan(g, "mean_g")},
       |  ${chan(bb, "mean_b")},
       |  CAST(list_sum(list_transform(range(0, w*h),
       |    k -> (k + 1) * (($r) + 2*($g) + 3*($bb)))) AS BIGINT) AS pos_checksum
       |FROM (SELECT doc_id, text, 3 + doc_id % 4 AS w, 5 + doc_id % 3 AS h
       |      FROM documents WHERE doc_id < 64 AND length(text) >= 42)""".stripMargin
  }

  def queries: Seq[Q] = Seq(
    Q("qm01_binary_meta", qm01, Some(qm01Sql)),
    Q("qm09_perceptual_dedup", qm09, Some(qm09Sql)),
    Q("qm02_decode_features", qm02, Some(qm02Sql)),
    Q("qm03_frame_sampling", qm03, Some(qm03Sql)),
    Q("qm04_audio_features", qm04, Some(qm04Sql)),
    Q("qm05_video_frame_sample", qm05, Some(qm05Sql)),
    Q("qm06_binary_file_ingest", qm06, Some(qm06Sql)),
    Q("qm07_png_decode_features", qm07, Some(qm07Sql)),
    Q("qm08_png_file_ingest", qm08, Some(qm08Sql)))
}
