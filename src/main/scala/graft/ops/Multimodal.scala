package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Multimodal-column plumbing: media as opaque binary columns + typed metadata,
  * decoded/feature-extracted per partition. The Spark-side shape — binary
  * payload column, metadata struct, typed Dataset, mapPartitions batch
  * processing — is the real 100 TB pattern (one decoder init per partition,
  * not per row); the decode itself is a deterministic stub because no
  * image/audio codecs exist in this container (payload here is UTF-8 text
  * bytes standing in for image bytes).
  */
object Multimodal {

  /** Input row: opaque payload + mime tag, as a decoder would receive it. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte], mime: String)

  /** Extracted features. A real decoder would add width/height/duration here. */
  final case class MediaFeatures(
      doc_id: Long,
      mime: String,
      n_bytes: Long,
      first_byte: Int,
      payload_md5: String)

  /** STUB for the actual media decode (no codec libs in this container): the
    * per-partition init (MessageDigest here, a real decoder in production) and
    * the per-row byte-level feature extraction are the real plumbing. */
  private def decodePartition(rows: Iterator[MediaRow]): Iterator[MediaFeatures] = {
    val md = MessageDigest.getInstance("MD5") // one init per partition
    rows.map { r =>
      md.reset()
      val digest = md.digest(r.payload).map("%02x".format(_)).mkString
      MediaFeatures(
        doc_id = r.doc_id,
        mime = r.mime,
        n_bytes = r.payload.length.toLong,
        first_byte = if (r.payload.isEmpty) -1 else r.payload(0) & 0xff,
        payload_md5 = digest)
    }
  }

  val decode: Q = Q(
    "q24_multimodal_decode",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          lit("text/plain").as("mime"))
        .as[MediaRow]
        .mapPartitions(decodePartition)
        .toDF()
    },
    // texts are ASCII → octet_length == length and ascii(text) == first byte
    Some("""SELECT doc_id, 'text/plain' AS mime,
      CAST(length(text) AS BIGINT) AS n_bytes,
      CAST(ascii(text) AS INT) AS first_byte,
      md5(text) AS payload_md5
      FROM documents"""))

  /** One sampled, resized frame. */
  final case class FrameRow(doc_id: Long, frame_idx: Int, n_bytes: Long,
      resized_md5: String)

  private val frameSize = 64 // bytes per fake "video frame"
  private val sampleEvery = 4 // keep every 4th frame

  /** STUB decode for frame sampling + resize (the video-pipeline shape):
    * split the payload into fixed-size frames, keep every `sampleEvery`-th,
    * "resize" by 2× byte downsampling, fingerprint the result. Per-partition
    * decoder init + multi-row-per-input flatMap is exactly how a real
    * ffmpeg/PIL batch stage is shaped on Spark. */
  private def framePartition(rows: Iterator[MediaRow]): Iterator[FrameRow] = {
    val md = MessageDigest.getInstance("MD5") // one init per partition
    rows.flatMap { r =>
      r.payload.grouped(frameSize).zipWithIndex.collect {
        case (frame, i) if i % sampleEvery == 0 =>
          val resized = frame.zipWithIndex.collect { case (b, j) if j % 2 == 0 => b }
          md.reset()
          FrameRow(r.doc_id, i, frame.length.toLong,
            md.digest(resized).map("%02x".format(_)).mkString)
      }
    }
  }

  /** Frame-sample + resize over the binary payload column (q47). Oracled:
    * the corpus is ASCII (asserted by q24's oracle), so byte slicing equals
    * character slicing and DuckDB can reproduce every sampled, downsampled
    * frame fingerprint. */
  val frames: Q = Q(
    "q47_multimodal_frames",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          lit("video/fake").as("mime"))
        .as[MediaRow]
        .mapPartitions(framePartition)
        .toDF()
    },
    Some(s"""WITH f AS (
        SELECT doc_id, text,
               unnest(range(0, (length(text) + ${frameSize - 1}) // $frameSize)) AS i
        FROM documents
      ), sampled AS (
        SELECT doc_id, i AS frame_idx,
               substr(text, CAST(i * $frameSize + 1 AS INT), $frameSize) AS frame
        FROM f WHERE i % $sampleEvery = 0
      )
      SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
             CAST(length(frame) AS BIGINT) AS n_bytes,
             md5(array_to_string(
               list_transform(range(1, length(frame) + 1, 2),
                              j -> substr(frame, CAST(j AS INT), 1)), '')) AS resized_md5
      FROM sampled"""))

  // ---- q117: perceptual-hash near-duplicate media ---------------------------
  /** dHash geometry: 64 strided "pixels" → 63 gradient bits, banded 9×7 for
    * the candidate join. With hamming threshold 6 and 9 bands, pigeonhole
    * guarantees ≥ 1 clean band for any qualifying pair (complete up to
    * hamming 8), so the band join loses nothing the verify would keep. */
  private val PhashPixels = 64
  private val PhashBands = 9
  private val BandBits = 7 // 9 × 7 = 63 bits
  private val HammingMax = 6

  final case class PhashRow(doc_id: Long, phash: Long)

  /** Per-partition perceptual-hash extraction — the image-dedup decode stage:
    * downsample the payload to a fixed [[PhashPixels]]-cell grid (a real
    * decoder resizes the image to a 9×8 grid) and emit the classic dHash —
    * bit i set iff pixel i < pixel i+1. The gradient form is what makes the
    * fingerprint robust to uniform brightness/re-encode shifts in real
    * images. The STUB's pixel is the first byte of each of 64 strided
    * space-delimited tokens in the fake payload — chosen because this
    * corpus's near-duplicates are token substitutions, so a token-grid cell
    * absorbs an edit locally the same way an image-grid cell absorbs a
    * local pixel change, while raw byte striding would shift every
    * downstream "pixel" on any length change (the analog of comparing
    * differently-cropped images without resizing first). */
  /** The stub "resize": the fixed [[PhashPixels]]-cell luminance grid a real
    * decoder would produce by resampling the image — first byte of each of
    * 64 strided tokens. Shared by the dHash (q117) and patch-token (q128)
    * extractors. None when the payload has fewer than 2 tokens. */
  private def pixelGrid(r: MediaRow): Option[Array[Int]] = {
    val toks = new String(r.payload, java.nio.charset.StandardCharsets.UTF_8)
      .split(" ", -1)
    val n = toks.length
    if (n < 2) None
    else Some(Array.tabulate(PhashPixels) { i =>
      val t = toks((i.toLong * (n - 1) / (PhashPixels - 1)).toInt)
      if (t.isEmpty) 0 else t.charAt(0).toInt
    })
  }

  private def phashPartition(rows: Iterator[MediaRow]): Iterator[PhashRow] =
    rows.flatMap { r =>
      pixelGrid(r).map { px =>
        var fp = 0L
        var i = 0
        while (i < PhashPixels - 1) {
          if (px(i) < px(i + 1)) fp |= (1L << i)
          i += 1
        }
        PhashRow(r.doc_id, fp)
      }
    }

  /** q117's band-bucket hub cap (r14, VERDICT r13 directive #3): a
    * (band, value) bucket holding more than this many docs is EXCLUDED from
    * candidate generation — the q238 `winnowDfCap` idiom applied to the one
    * pair miner that had no bound. Measured maxima: 390 docs/bucket at
    * sf0.1, 3 945 at the ~sf1 twin-stress corpus — the default sits above
    * both, so every published hash and the recorded pair-growth numbers are
    * unchanged; what changes is the WORST CASE: a pathological near-uniform
    * media corpus (every frame the same letterbox) now yields ≤ cap²/2
    * candidate pairs per bucket × 9·128 buckets, independent of corpus
    * size, instead of |corpus|². [[phashBucketAudit]] reports every
    * bucket's uncapped doc count + capped flag so a production run SEES
    * what the cap dropped (boilerplate imagery, by construction). */
  private[graft] val PhashBucketCap = 8192

  /** (doc_id, phash, band, v) — each fingerprint exploded into its
    * [[PhashBands]] 7-bit band values. */
  private def phashBands(media: org.apache.spark.sql.Dataset[MediaRow])
      : org.apache.spark.sql.DataFrame = {
    import media.sparkSession.implicits._
    val fps = media.mapPartitions(phashPartition).toDF()
    fps.select(col("doc_id"), col("phash"),
      explode(expr(s"transform(sequence(0, ${PhashBands - 1}), " +
        s"b -> named_struct('band', b, 'v', shiftright(phash, b * $BandBits) % ${1 << BandBits}))")).as("bv"))
      .select(col("doc_id"), col("phash"), col("bv.band"), col("bv.v"))
  }

  /** The hub-cap audit: one row per occupied (band, v) bucket with its
    * UNCAPPED doc count and whether [[phashNearDupOf]] at this cap would
    * drop it. Zero capped rows at every tested sf (spec-pinned); a capped
    * row in production is boilerplate imagery the miner deliberately
    * skips. */
  private[graft] def phashBucketAudit(media: org.apache.spark.sql.Dataset[MediaRow],
      cap: Int = PhashBucketCap): org.apache.spark.sql.DataFrame =
    phashBands(media).groupBy("band", "v")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("capped", col("n_docs") > cap)

  /** Near-duplicate media detection by perceptual hash — the image-corpus
    * dedup operator (every large crawled image/video set runs one): compute
    * a dHash per payload, then find all pairs within hamming distance
    * [[HammingMax]]. The pair search is the q16 SimHash shape: explode each
    * fingerprint into [[PhashBands]] band values, equi-join on (band, value)
    * — candidates are hash-bucket-bounded, never all-pairs, and since r14
    * also HUB-CAPPED at [[PhashBucketCap]] docs per bucket — and verify
    * survivors exactly with bit_count(xor). Banding is provably complete at
    * this threshold (pigeonhole above); the oracle is the UNFILTERED
    * quadratic hamming join, so completeness is hash-checked, not assumed
    * (the cap sits above every tested corpus's max bucket, so the check is
    * exact at every tested sf; above the cap, dropped pairs are the
    * documented boilerplate tradeoff, visible via [[phashBucketAudit]]). */
  private[graft] def phashNearDupOf(media: org.apache.spark.sql.Dataset[MediaRow],
      cap: Int = PhashBucketCap): org.apache.spark.sql.DataFrame = {
    val bands = phashBands(media)
    val keep = bands.groupBy("band", "v").agg(count(lit(1)).as("bdf"))
      .filter(col("bdf") <= cap).select("band", "v")
    val kept = bands.join(keep, Seq("band", "v"))
    kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.phash").as("fa"), col("b.phash").as("fb"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(fa ^ fb) AS BIGINT)"))
      .filter(col("hamming") <= HammingMax)
      .select("doc_a", "doc_b", "hamming")
  }

  val phashNearDup: Q = Q(
    "q117_phash_neardup",
    (s, dir) => {
      import s.implicits._
      phashNearDupOf(Tables.documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
          lit("image/fake").as("mime"))
        .as[MediaRow])
    },
    // the ASCII corpus makes first-byte == first-character, so DuckDB
    // reproduces every pixel, bit and the band-free QUADRATIC hamming join
    Some(s"""WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE len(string_split(text, ' ')) >= 2
      ), px AS (
        SELECT doc_id,
               list_transform(range(0, $PhashPixels),
                 i -> ascii(substr(
                        ws[CAST((i * (len(ws) - 1)) // ${PhashPixels - 1} + 1 AS INT)],
                        1, 1))) AS p
        FROM w
      ), fp AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, ${PhashPixels - 1}),
                 i -> CASE WHEN p[CAST(i + 1 AS INT)] < p[CAST(i + 2 AS INT)]
                      THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT)
                 AS phash
        FROM px
      )
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.phash, b.phash)) <= $HammingMax"""))

  // ---- q119: windowed audio energy / silence detection ---------------------
  private val audioFrame = 64 // samples per analysis window
  private val silenceRms = 40.0 // threshold on centered-amplitude RMS

  final case class AudioFrame(doc_id: Long, frame_idx: Int, n_samples: Long,
      rms: Double, is_silent: Long)

  /** STUB audio decode for windowed energy analysis — the speech-corpus
    * preprocessing stage (VAD/silence trimming runs in front of every ASR
    * training pipeline): treat each payload byte as one centered PCM sample
    * (byte − 128), window into fixed [[audioFrame]]-sample frames, and emit
    * per-frame RMS energy plus a silence flag. Frame-level output keeps
    * every number per-row exact (integer sum of squares, one double
    * division, one sqrt — bit-identical in DuckDB), with no cross-row
    * float accumulation to engineer around. Per-partition decoder init +
    * flatMap is the same batch shape as the video stage. */
  private[graft] def decodeAudioFrames(rows: Iterator[MediaRow]): Iterator[AudioFrame] =
    rows.flatMap { r =>
      r.payload.grouped(audioFrame).zipWithIndex.map { case (frame, i) =>
        var sumSq = 0L
        frame.foreach { b => val amp = (b & 0xff) - 128; sumSq += amp.toLong * amp }
        val rms = math.sqrt(sumSq.toDouble / frame.length)
        AudioFrame(r.doc_id, i, frame.length.toLong, rms,
          if (rms < silenceRms) 1L else 0L)
      }
    }

  val audioEnergy: Q = Q(
    "q119_audio_energy",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
          lit("audio/fake").as("mime"))
        .as[MediaRow]
        .mapPartitions(decodeAudioFrames)
        .toDF()
    },
    // ASCII corpus: byte == character code, so DuckDB reproduces every
    // sample, the exact integer energy sum and the identical rms double
    Some(s"""WITH f AS (
        SELECT doc_id, i AS frame_idx,
               substr(text, CAST(i * $audioFrame + 1 AS INT), $audioFrame) AS fr
        FROM documents,
             unnest(range(0, (length(text) + ${audioFrame - 1}) // $audioFrame)) AS t(i)
      ), e AS (
        SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
               CAST(length(fr) AS BIGINT) AS n_samples,
               sqrt(CAST(list_sum(list_transform(range(1, length(fr) + 1),
                      j -> CAST(pow(ascii(substr(fr, CAST(j AS INT), 1)) - 128, 2)
                               AS BIGINT))) AS BIGINT)
                    / CAST(length(fr) AS DOUBLE)) AS rms
        FROM f
      )
      SELECT doc_id, frame_idx, n_samples, rms,
             CASE WHEN rms < $silenceRms THEN CAST(1 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS is_silent
      FROM e"""))

  // ---- q128: ViT-style patch tokenization ----------------------------------
  private val patchCells = 4 // grid cells per patch → 16 patch tokens/image

  final case class PatchRow(doc_id: Long, patch_idx: Int, p_sum: Long,
      p_mean: Double, p_min: Int, p_max: Int)

  /** Patch tokenization — the image-side input prep of every vision
    * transformer: the decoder's fixed luminance grid (the q117 stub resize)
    * splits into 16 contiguous 4-cell patches, each emitted as one token
    * row with its summary features (a real pipeline emits the flattened
    * patch for the projection layer; the summary keeps the stub's output
    * fully oracled). Numbers are exact by construction: integer cell sums,
    * min/max, and a mean that divides by a power of two — bit-identical in
    * DuckDB with no rounding step. Shape: one flatMap over the media
    * partition, 16 rows per image, no shuffle — the token table feeds q55's
    * packing or q100's ordering downstream like any other token stream. */
  private def patchPartition(rows: Iterator[MediaRow]): Iterator[PatchRow] =
    rows.flatMap { r =>
      pixelGrid(r).toSeq.flatMap { px =>
        (0 until PhashPixels / patchCells).map { p =>
          val cells = px.slice(p * patchCells, (p + 1) * patchCells)
          PatchRow(r.doc_id, p, cells.map(_.toLong).sum,
            cells.sum / 4.0d, cells.min, cells.max)
        }
      }
    }

  val patchTokens: Q = Q(
    "q128_patch_tokens",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
          lit("image/fake").as("mime"))
        .as[MediaRow]
        .mapPartitions(patchPartition)
        .toDF()
    },
    Some(s"""WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE len(string_split(text, ' ')) >= 2
      ), px AS (
        SELECT doc_id,
               list_transform(range(0, $PhashPixels),
                 i -> ascii(substr(
                        ws[CAST((i * (len(ws) - 1)) // ${PhashPixels - 1} + 1 AS INT)],
                        1, 1))) AS p
        FROM w
      ), patches AS (
        SELECT doc_id, CAST(g.i AS INT) AS patch_idx,
               list_slice(p, CAST($patchCells * g.i + 1 AS INT),
                             CAST($patchCells * g.i + $patchCells AS INT)) AS cells
        FROM px, (SELECT unnest(range(0, ${PhashPixels / patchCells})) AS i) g
      )
      SELECT doc_id, patch_idx,
             CAST(list_sum(cells) AS BIGINT) AS p_sum,
             CAST(list_sum(cells) AS BIGINT) / 4.0 AS p_mean,
             CAST(list_min(cells) AS INT) AS p_min,
             CAST(list_max(cells) AS INT) AS p_max
      FROM patches"""))

  val all: Seq[Q] = Seq(decode, frames, phashNearDup, audioEnergy, patchTokens)
}
