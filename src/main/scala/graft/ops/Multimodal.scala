package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, decoded/feature-extracted inside
  * `mapPartitions` (SURVEY §1.5 — at 100 TB keep `binaryFile` pointers +
  * lazy decode; never materialize media on the driver).
  *
  * The decode kernel here is a clearly-marked deterministic STUB — the
  * real image/audio codecs are not in this container. The Spark-side
  * plumbing (schema, partitioning, batch shape, metadata contract) is
  * real and oracle-tested: the stub's outputs are pure integer arithmetic
  * on the payload size, mirrorable in SQL.
  */
object Multimodal {

  final case class MediaMeta(doc_id: Long, kind: String, bytes: Long,
      width: Long, height: Long, n_frames: Long)

  /** Text → opaque payload column (stand-in for image/audio bytes). */
  def asBinary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).cast("binary").as("payload"),
      when(col(idCol) % 3 === 0, "image")
        .when(col(idCol) % 3 === 1, "audio")
        .otherwise("video").as("kind"))

  /** STUB decode (deterministic fake): derives dimensions/frame counts
    * from the payload length with exact integer arithmetic. A real
    * implementation replaces the body with a codec call; everything
    * around it (mapPartitions batching, output schema) stays.
    */
  def decodeStub(binDf: DataFrame): Dataset[MediaMeta] = {
    import binDf.sparkSession.implicits._
    binDf.select(col("doc_id"), col("payload"), col("kind"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        it.map { case (id, payload, kind) =>
          val bytes = payload.length.toLong
          val h = (bytes * 31L + 7L) % 104729L
          MediaMeta(id, kind, bytes, h % 640L, h % 480L, bytes / 100L + 1L)
        }
      }
  }

  /** Frame-sampling plumbing: one row per sampled frame offset —
    * `sequence` + `explode`, stays in codegen; the per-frame decode would
    * hang off this with `mapPartitions` like [[decodeStub]].
    */
  def frameSample(meta: Dataset[MediaMeta], everyN: Long): DataFrame = {
    require(everyN > 0, s"frame sampling stride must be positive, got $everyN")
    meta.toDF()
      .withColumn("frame_idx",
        explode(sequence(lit(0L), expr(s"(n_frames - 1) div $everyN"))))
      .select(col("doc_id"), col("kind"), col("width"), col("height"),
        (col("frame_idx") * lit(everyN)).as("frame"))
  }

  /** Aspect-preserving fit-resize as exact integer arithmetic (scale in
    * 1e-4 units): the RELATIONAL shape of a resize stage — dimensions
    * in, target-box dimensions out, one row per frame — with the pixel
    * work left to the codec kernel behind the [[decodeStub]] seam.
    * Degenerate zero dimensions clamp to 1 (the stub's hash-derived
    * dims can be 0).
    */
  def resizeStub(frames: DataFrame, targetW: Long, targetH: Long): DataFrame =
    frames
      .withColumn("__w", greatest(col("width"), lit(1L)))
      .withColumn("__h", greatest(col("height"), lit(1L)))
      .withColumn("scale_e4",
        least(expr(s"${targetW * 10000L} div __w"), expr(s"${targetH * 10000L} div __h")))
      .withColumn("out_w", expr("(__w * scale_e4) div 10000"))
      .withColumn("out_h", expr("(__h * scale_e4) div 10000"))
      .drop("__w", "__h")

  /** L177 — REAL IMAGE CODEC ROUNDTRIP (the decode seam made real,
    * r8-VERDICT item 3): each row's synthesized RGB pixel array is
    * ENCODED with a real `javax.imageio` codec (PNG / BMP lossless,
    * JPEG lossy — selected by `kindCol`) and DECODED back
    * ([[graft.pipeline.ImageCodec]]), emitting structural facts and
    * exact pixel checksums. PNG/BMP are lossless, so the checksums
    * equal the synthesis formula's own sums — which is exactly what
    * the SQL oracle recomputes (the s2_codec_roundtrip pattern: the
    * encoder dual mints the fixture, the oracle replays the formula;
    * a broken codec path cannot hash-match). JPEG rows emit dims only
    * with checksums −1 (lossy — structural facts are exact, pixels are
    * not; never a silently-wrong sum).
    *
    * `rgbCol`: array<int> of w·h packed 0xRRGGBB pixels (row-major,
    * no alpha — keeps every value a positive int in both engines);
    * the kernel adds the opaque alpha. Scale shape: one typed
    * mapPartitions, no shuffle; images never touch the driver.
    *
    * Output: (id, kind, width, height, sum_gray, psum) with
    * sum_gray = Σ luma (BT.601 integer thousandths) and
    * psum = Σ (i+1)·(r+g+b) — position-weighted, catches transposition.
    */
  def imageRoundtrip(df: DataFrame, idCol: String, kindCol: String,
      rgbCol: String, w: Int, h: Int): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(kindCol).cast("string"),
        col(rgbCol).cast("array<int>"))
      .as[(Long, String, Array[Int])]
      .mapPartitions { it =>
        it.map { case (id, kind, rgb) =>
          val argb = rgb.map(p => 0xff000000 | p)
          val bytes = kind match {
            case "png" => graft.pipeline.ImageCodec.encodePng(w, h, argb)
            case "bmp" => graft.pipeline.ImageCodec.encodeBmp(w, h, argb)
            case "jpg" => graft.pipeline.ImageCodec.encodeJpeg(w, h, argb)
            case other => throw new IllegalArgumentException(
              s"unknown image kind $other")
          }
          val dec = graft.pipeline.ImageCodec.decode(bytes)
          val lossless = kind != "jpg"
          var sumGray = 0L
          var psum = 0L
          if (lossless) {
            var i = 0
            while (i < dec.argb.length) {
              val p = dec.argb(i)
              sumGray += graft.pipeline.ImageCodec.gray(p)
              psum += (i + 1L) * (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff))
              i += 1
            }
          } else { sumGray = -1L; psum = -1L }
          (id, kind, dec.width.toLong, dec.height.toLong, sumGray, psum)
        }
      }
      .toDF(idCol, "kind", "width", "height", "sum_gray", "psum")
  }

  /** L180 — HEADER-ONLY IMAGE PROBE over real encoder output: each
    * row's pixels encode with the kind-selected real codec
    * (PNG/BMP/JPEG/GIF), then [[graft.pipeline.ImageProbe]] reads the
    * dimensions from the CONTAINER HEADER BYTES alone — no raster
    * decode — the image twin of the S3 audio duration probe, and the
    * only touch a 100 TB ingest pays per payload before deciding what
    * to decode. The oracle replays the synthesis dims, so a probe that
    * misparses any of the four header layouts (or an encoder that
    * doesn't honor its dims) cannot hash-match. One typed
    * mapPartitions, no shuffle.
    *
    * Output: (id, format, width, height).
    */
  def imageProbe(df: DataFrame, idCol: String, kindCol: String,
      rgbCol: String, wCol: String, hCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(kindCol).cast("string"),
        col(rgbCol).cast("array<int>"),
        col(wCol).cast("int"), col(hCol).cast("int"))
      .as[(Long, String, Array[Int], Int, Int)]
      .mapPartitions { it =>
        it.map { case (id, kind, rgb, w, h) =>
          val argb = rgb.map(p => 0xff000000 | p)
          val bytes = kind match {
            case "png" => graft.pipeline.ImageCodec.encodePng(w, h, argb)
            case "bmp" => graft.pipeline.ImageCodec.encodeBmp(w, h, argb)
            case "jpg" => graft.pipeline.ImageCodec.encodeJpeg(w, h, argb)
            case "gif" => graft.pipeline.ImageCodec.encodeGif(w, h, argb)
            case other => throw new IllegalArgumentException(
              s"unknown image kind $other")
          }
          val info = graft.pipeline.ImageProbe.probe(bytes)
          (id, info.format, info.width, info.height)
        }
      }
      .toDF(idCol, "format", "width", "height")
  }

  /** L200 — IMAGE METADATA AUDIT + PRIVACY SCRUB over real encoder
    * output: each row's pixels encode with the kind-selected real
    * codec, gain spec-valid metadata ([[graft.pipeline.ImageMeta]]:
    * JPEG APP1 EXIF TIFF-IFD + APP2 ICC + COM; PNG eXIf/iCCP/tEXt with
    * real chunk CRCs; GIF comment extensions), then the byte-level
    * metadata probe reads orientation/EXIF/ICC/text back WITHOUT
    * decoding a raster, the strip operation removes every metadata
    * segment WITHOUT re-encoding pixels, and a second probe certifies
    * the scrub (the PII posture: EXIF GPS/serial payloads must leave,
    * the image must not change — decode-identity pinned in
    * ImageCodecSpec). The oracle replays the synthesis formulas, so a
    * misparsed IFD, a bad chunk CRC, or a strip that eats IDAT cannot
    * hash-match. One typed mapPartitions, no shuffle, no driver bytes.
    *
    * Output: (id, format, width, height, orientation, has_exif,
    * has_icc, n_text, width_stripped, height_stripped,
    * orientation_stripped, has_exif_stripped, has_icc_stripped,
    * n_text_stripped).
    */
  def imageMetaAudit(df: DataFrame, idCol: String, kindCol: String,
      rgbCol: String, wCol: String, hCol: String, orientCol: String,
      nTextCol: String, iccCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(kindCol).cast("string"),
        col(rgbCol).cast("array<int>"), col(wCol).cast("int"),
        col(hCol).cast("int"), col(orientCol).cast("int"),
        col(nTextCol).cast("int"), col(iccCol).cast("boolean"))
      .as[(Long, String, Array[Int], Int, Int, Int, Int, Boolean)]
      .mapPartitions { it =>
        import graft.pipeline.{ImageCodec, ImageMeta}
        it.map { case (id, kind, rgb, w, h, orient, nText, icc) =>
          val argb = rgb.map(p => 0xff000000 | p)
          val plain = kind match {
            case "png" => ImageCodec.encodePng(w, h, argb)
            case "bmp" => ImageCodec.encodeBmp(w, h, argb)
            case "jpg" => ImageCodec.encodeJpeg(w, h, argb)
            case "gif" => ImageCodec.encodeGif(w, h, argb)
            case other => throw new IllegalArgumentException(
              s"unknown image kind $other")
          }
          val profile = Array.tabulate(64)(i => ((id + i) % 251).toByte)
          var tagged = plain
          kind match {
            case "jpg" =>
              tagged = ImageMeta.jpegWithExif(tagged, orient)
              if (icc) tagged = ImageMeta.jpegWithIcc(tagged, profile)
              (0 until nText).foreach { i =>
                tagged = ImageMeta.jpegWithComment(tagged, s"note-$id-$i")
              }
            case "png" =>
              tagged = ImageMeta.pngWithExif(tagged, orient)
              if (icc) tagged = ImageMeta.pngWithIccp(tagged, "p", profile)
              (0 until nText).foreach { i =>
                tagged = ImageMeta.pngWithText(tagged, "Comment", s"note-$id-$i")
              }
            case "gif" =>
              (0 until nText).foreach { i =>
                tagged = ImageMeta.gifWithComment(tagged, s"note-$id-$i")
              }
            case _ => ()
          }
          val m1 = ImageMeta.probeMeta(tagged)
          val m2 = ImageMeta.probeMeta(ImageMeta.strip(tagged))
          (id, m1.format, m1.width, m1.height, m1.orientation, m1.hasExif,
            m1.hasIcc, m1.nText, m2.width, m2.height, m2.orientation,
            m2.hasExif, m2.hasIcc, m2.nText)
        }
      }
      .toDF(idCol, "format", "width", "height", "orientation", "has_exif",
        "has_icc", "n_text", "width_stripped", "height_stripped",
        "orientation_stripped", "has_exif_stripped", "has_icc_stripped",
        "n_text_stripped")
  }

  /** Grid → 16-bit gray PNG → real ImageIO decode → grid: expands each
    * of the 72 cell values (8×9 row-major, any 0..65535 range — wider
    * than 8-bit, hence gray16) to a `cellW`×`cellH` constant pixel
    * block, encodes/decodes through [[graft.pipeline.ImageCodec]], and
    * re-extracts the cell means. Lossless + cell-constant ⇒ the output
    * grid EQUALS the input grid — so the dHash pipeline downstream
    * (L111) consumes genuinely decoded pixels while its SQL oracle
    * keeps scoring the synthesis formula. One typed mapPartitions, no
    * shuffle.
    */
  def gridPngRoundtrip(df: DataFrame, idCol: String, gridCol: String,
      cols: Int = 9, rows: Int = 8, cellW: Int = 3, cellH: Int = 2): DataFrame = {
    import df.sparkSession.implicits._
    val w = cols * cellW
    val h = rows * cellH
    df.select(col(idCol).cast("long"), col(gridCol).cast("array<int>"))
      .as[(Long, Array[Int])]
      .mapPartitions { it =>
        it.map { case (id, grid) =>
          require(grid.length == cols * rows,
            s"grid ${grid.length} != $cols x $rows")
          val samples = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              samples(y * w + x) = grid((y / cellH) * cols + (x / cellW))
              x += 1
            }
            y += 1
          }
          val png = graft.pipeline.ImageCodec.encodePng16(w, h, samples)
          val dec = graft.pipeline.ImageCodec.decodeGray16(png)
          (id, graft.pipeline.ImageCodec.cellMeans(
            dec.width, dec.height, dec.samples, cols, rows))
        }
      }
      .toDF(idCol, gridCol)
  }

  /** Image near-dup pairs by dHash Hamming distance: pigeonhole
    * candidates — any EQUAL band (recall 1 for distance ≤ 3 with 4
    * bands) via a (band, value) equi self-join, then exact popcount
    * verify. The same bucket-join-never-cross-join shape as every
    * dedup path here: at 100 TB candidates form only inside hash
    * buckets. Input: (idCol, bands array<int>[4]); output (a, b, dist).
    */
  def dhashNearDupPairs(df: DataFrame, idCol: String, bandsCol: String,
                        maxDist: Int): DataFrame = {
    require(maxDist <= 3, s"4-band pigeonhole guarantees recall only to distance 3, got $maxDist")
    // The hash table feeds FOUR plan branches (both sides of the band
    // self-join, both verify joins). Uncached, every branch re-evaluates
    // the input lineage — for callers whose hashes come out of a real
    // codec round-trip (mm_dhash_neardup: PNG encode+decode per row)
    // that quadrupled the codec work (measured 5.1 s → 1.8 s at sf0.1).
    // Eager, so racing subtrees of the single final action all hit it.
    val hashes = df.select(col(idCol), col(bandsCol)).cache()
    hashes.count()
    val b = hashes.select(col(idCol), posexplode(col(bandsCol)).as(Seq("band", "v")))
    val cand = b.select(col(idCol).as("a"), col("band"), col("v"))
      .join(b.select(col(idCol).as("b"), col("band"), col("v")), Seq("band", "v"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    cand
      .join(hashes.select(col(idCol).as("a"), col(bandsCol).as("__ba")), "a")
      .join(hashes.select(col(idCol).as("b"), col(bandsCol).as("__bb")), "b")
      .withColumn("dist",
        expr("aggregate(zip_with(__ba, __bb, (x, y) -> bit_count(x ^ y)), 0, (acc, d) -> acc + d)"))
      .filter(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist").cast("long").as("dist"))
  }

  /** L119 — SHOT-BOUNDARY DETECTION + KEYFRAME SELECTION: the video
    * sampling pass of a multimodal training pipeline — collapse each
    * video's frame stream into shots (runs of visually-similar frames)
    * and keep one keyframe per shot, so a 30 fps video contributes
    * shots-many training frames instead of thousands of near-identical
    * ones. A frame opens a new shot when the Hamming distance between
    * its perceptual hash (dHash per frame — the L111 seam) and the
    * previous frame's exceeds `maxDist`; shot ids are the running sum
    * of cut flags — the sessionization idiom (W1) applied to frame
    * streams. Integer-exact throughout (xor + popcount + windowed
    * sums), so the whole pass oracles bit-for-bit.
    *
    * Scale shape: ONE shuffle on the video id for the lag/cumsum
    * window; the per-shot aggregation then combines map-side (frames
    * of a video are already co-located and sorted, and partial
    * aggregation collapses each shot to one row before any further
    * exchange). No joins, nothing quadratic, state bounded per video.
    *
    * Input: (idCol, frameCol, hashCol) one row per frame, hash a
    * 64-bit perceptual hash. Output: (idCol, shot_id, key_frame,
    * n_frames) — shot ids 1-based per video, keyframe = first frame.
    */
  def shotSegments(frames: DataFrame, idCol: String, frameCol: String,
                   hashCol: String, maxDist: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col(frameCol))
    withCuts(frames, idCol, frameCol, hashCol, maxDist)
      .withColumn("shot_id", sum(col("__cut")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("shot_id"))
      .agg(min(col(frameCol)).as("key_frame"), count(lit(1)).as("n_frames"))
  }

  /** Cut flags per frame: 1 where a new shot opens (first frame, or
    * Hamming to the previous frame's hash exceeds `maxDist`).
    */
  private def withCuts(frames: DataFrame, idCol: String, frameCol: String,
                       hashCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val w = Window.partitionBy(col(idCol)).orderBy(col(frameCol))
    frames
      .withColumn("__prev", lag(col(hashCol), 1).over(w))
      .withColumn("__cut",
        when(col("__prev").isNull, lit(1L))
          .when(expr(s"bit_count(__prev ^ $hashCol)") > maxDist, lit(1L))
          .otherwise(lit(0L)))
  }

  /** L120 — VIDEO NEAR-DUP SIGNATURES: the distinct shot-keyframe hash
    * set per video, as (idCol, gram) rows ready for the generic
    * set-Jaccard pair stage ([[audioNearDupPairs]] — the video twin of
    * L112's energy grams). Re-encoded, trimmed, or lightly re-edited
    * copies keep most of their shots' opening frames, so keyframe-hash
    * Jaccard survives exactly the transformations frame-exact equality
    * does not. The keyframe hash is read directly off the cut row (the
    * keyframe IS the frame that opened the shot) — no join back, one
    * window pass plus a distinct.
    */
  def videoKeyHashes(frames: DataFrame, idCol: String, frameCol: String,
                     hashCol: String, maxDist: Int): DataFrame =
    withCuts(frames, idCol, frameCol, hashCol, maxDist)
      .filter(col("__cut") === 1L)
      .select(col(idCol), col(hashCol).as("gram")).distinct()

  /** L112 — AUDIO FINGERPRINTING (energy-contour grams): the audio
    * analog of dHash/MinHash for waveform-level near-dup at corpus
    * scale. Shazam-style landmark hashing re-expressed in exact integer
    * arithmetic so an external engine can replay it bit-for-bit:
    *
    *   1. int16-quantize the waveform (round(x·32767) — the codec
    *      seam's own domain),
    *   2. frame energies: Σ s² per `frame`-sample window, exact longs,
    *   3. contour bits: b_f = [energy(f+1) > energy(f)] — the rising-
    *      edge envelope, INVARIANT under any positive amplitude scaling
    *      (sign(c·e1 − c·e2) = sign(e1 − e2)), which is what makes
    *      re-encoded/regained copies near-dups,
    *   4. grams: every k consecutive bits as one k-bit integer — the
    *      fingerprint is the id's distinct gram set.
    *
    * Output: distinct (idCol, gram). All HOFs, no UDF; per-row work is
    * linear in samples, and downstream joins are gram-bucketed equi
    * joins — never all-pairs.
    */
  def audioContourGrams(df: DataFrame, idCol: String, waveCol: String,
                        frame: Int, k: Int): DataFrame = {
    require(frame > 0 && k > 0 && k <= 62, s"bad frame=$frame k=$k")
    df.select(col(idCol),
        expr(s"transform($waveCol, x -> CAST(round(CAST(x AS DOUBLE) * 32767D) AS BIGINT))")
          .as("__iw"))
      .withColumn("__nf", (size(col("__iw")) / frame).cast("int"))
      .filter(col("__nf") > k) // ≥ k+1 frames → ≥ k contour bits → ≥ 1 gram
      .withColumn("__en", expr(
        s"transform(sequence(0, __nf - 1), f -> aggregate(slice(__iw, f * $frame + 1, $frame), CAST(0 AS BIGINT), (a, x) -> a + x * x))"))
      .withColumn("__bits", expr(
        "transform(sequence(0, __nf - 2), i -> IF(element_at(__en, i + 2) > element_at(__en, i + 1), CAST(1 AS BIGINT), CAST(0 AS BIGINT)))"))
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(__bits) - $k), i -> aggregate(sequence(1, $k), CAST(0 AS BIGINT), (a, j) -> a * 2 + element_at(__bits, i + j)))"))
        .as("gram"))
      .distinct()
  }

  /** Near-dup pairs over [[audioContourGrams]] fingerprints: candidates
    * from the gram-bucketed equi self-join, similarity = exact Jaccard
    * of the two gram sets. `maxGramDf` drops grams present in more than
    * that many ids BEFORE the join (the substring-dedup seed-cap
    * pattern) — a stop-gram guard for 100 TB corpora where a degenerate
    * contour (silence) would otherwise build corpus-sized buckets; the
    * capped variant reports a LOWER bound on n_shared/jaccard.
    * Output: (a, b, n_shared, jaccard) at jaccard ≥ minJaccard.
    */
  def audioNearDupPairs(grams: DataFrame, idCol: String, minJaccard: Double,
                        maxGramDf: Option[Long] = None): DataFrame = {
    // The gram table feeds three-to-four plan branches (sizes, both
    // sides of the bucket self-join, the df cap when set). Uncached,
    // each branch re-runs the caller's fingerprint lineage — waveform
    // synthesis + per-frame energy folds for mm_audio_fingerprint, the
    // lag-window keyframe pass for mm_video_neardup (measured 2.9 s →
    // 1.1 s at sf0.1). Eager: the branches race one final action.
    val gt = grams.cache()
    gt.count()
    val g = maxGramDf match {
      case Some(cap) =>
        val keep = gt.groupBy(col("gram"))
          .agg(count(lit(1)).as("__df")).filter(col("__df") <= cap)
          .select(col("gram"))
        gt.join(keep, Seq("gram"))
      case None => gt
    }
    val sizes = gt.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    g.select(col("gram"), col(idCol).as("a"))
      .join(g.select(col("gram"), col(idCol).as("b")), Seq("gram"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col(idCol).as("a"), col("__n").as("__na")), "a")
      .join(sizes.select(col(idCol).as("b"), col("__n").as("__nb")), "b")
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("__na") + col("__nb") - col("n_shared")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("n_shared"), col("jaccard"))
  }

  /** L192 — PATCH EXTRACTION STATS (the ViT patchify, Dosovitskiy
    * 2021): decoded images split into a row-major grid of pw×ph
    * patches — THE input op of every vision-transformer training
    * pipeline — with exact integer per-patch statistics (min, max,
    * sum, floor mean): the per-patch numbers a preprocessing pass
    * gates on (dead/saturated patch culling, patch-level contrast
    * screens) before pixels ever reach a trainer. Pixels go through
    * the REAL gray16-PNG encode→decode roundtrip
    * ([[graft.pipeline.ImageCodec]]), so the stats are computed on
    * genuinely decoded rasters while the oracle replays the synthesis
    * formula (lossless ⇒ identical). One typed flatMap, no shuffle;
    * one output row per (image, patch).
    *
    * Output: (id, patch_idx, p_min, p_max, p_sum, p_mean) —
    * patch_idx row-major, p_mean = floor(p_sum / (pw·ph)).
    */
  def patchStats(df: DataFrame, idCol: String, samplesCol: String,
      w: Int, h: Int, pw: Int, ph: Int): DataFrame = {
    require(w % pw == 0 && h % ph == 0,
      s"image ${w}x$h must tile exactly by ${pw}x$ph patches")
    import df.sparkSession.implicits._
    val cols = w / pw
    df.select(col(idCol).cast("long"), col(samplesCol).cast("array<int>"))
      .as[(Long, Array[Int])]
      .flatMap { case (id, samples) =>
        val png = graft.pipeline.ImageCodec.encodePng16(w, h, samples)
        val dec = graft.pipeline.ImageCodec.decodeGray16(png)
        (0 until (w / pw) * (h / ph)).map { p =>
          val x0 = (p % cols) * pw
          val y0 = (p / cols) * ph
          var mn = Int.MaxValue
          var mx = Int.MinValue
          var sum = 0L
          var y = y0
          while (y < y0 + ph) {
            var x = x0
            while (x < x0 + pw) {
              val v = dec.samples(y * w + x)
              if (v < mn) mn = v
              if (v > mx) mx = v
              sum += v
              x += 1
            }
            y += 1
          }
          (id, p.toLong, mn.toLong, mx.toLong, sum, sum / (pw.toLong * ph))
        }
      }
      .toDF(idCol, "patch_idx", "p_min", "p_max", "p_sum", "p_mean")
  }

  /** L188 — ZERO-CROSSING-RATE FEATURES over decoded audio — the
    * classic cheap voiced/unvoiced discriminator a speech-curation
    * pass runs beside the L169 clipping gate (voiced speech crosses
    * zero rarely; fricatives/noise cross constantly; a recording
    * that is all high-ZCR frames is noise, all near-zero-ZCR frames
    * is DC/silence damage): per file the exact count of STRICT sign
    * flips q_i·q_{i+1} < 0 over the int16-quantized samples (zeros
    * break runs, counted by neither side — the determinism rule), the
    * e6-scaled rate, and a per-frame gate — frames of `frame` samples
    * whose internal flip count is ≤ `maxZcLow` (the voiced-candidate
    * count). All exact integers on the bit-exact decode path; one
    * typed map, no shuffle.
    *
    * Output: (file, n_samples, n_zc, zcr_e6, n_frames, n_low_frames).
    */
  def zeroCrossingStats(audio: Dataset[graft.model.AudioFile],
      frame: Int, maxZcLow: Int): DataFrame = {
    require(frame >= 2, s"frame must be >= 2 samples, got $frame")
    import audio.sparkSession.implicits._
    audio.map { a =>
      val n = a.waveform.length
      val q = new Array[Long](n)
      var i = 0
      while (i < n) {
        q(i) = math.round(a.waveform(i) * 32768f).toLong
        i += 1
      }
      var zc = 0L
      i = 1
      while (i < n) { if (q(i - 1) * q(i) < 0L) zc += 1; i += 1 }
      val nf = n / frame
      var low = 0L
      var f = 0
      while (f < nf) {
        var z = 0L
        var j = f * frame + 1
        val end = f * frame + frame
        while (j < end) { if (q(j - 1) * q(j) < 0L) z += 1; j += 1 }
        if (z <= maxZcLow) low += 1
        f += 1
      }
      (a.file.toLong, n.toLong, zc, nf.toLong, low)
    }.toDF("file", "n_samples", "n_zc", "n_frames", "n_low_frames")
      .withColumn("zcr_e6",
        when(col("n_samples") > 1L,
          expr("(n_zc * 1000000L) div (n_samples - 1L)"))
          .otherwise(lit(-1L)))
      .select(col("file"), col("n_samples"), col("n_zc"), col("zcr_e6"),
        col("n_frames"), col("n_low_frames"))
  }

  /** L195 — SILENCE-TRIM OFFSETS over decoded audio — the lead/tail
    * trim every speech-ingest pass runs before windowing (leading
    * silence wastes model context; trailing silence skews duration
    * stats): per file the FIRST and LAST sample index whose int16-
    * quantized magnitude reaches `threshold`, the trimmed length, and
    * the lead/tail silence sample counts — all exact integers on the
    * bit-exact decode path. All-silent files flag first/last −1 with
    * trimmed length 0 (loud, never a zero-length accident). One typed
    * map, no shuffle.
    *
    * Output: (file, n_samples, first_loud, last_loud, n_lead,
    * n_tail, trimmed_len).
    */
  def silenceTrimOffsets(audio: Dataset[graft.model.AudioFile],
      threshold: Int): DataFrame = {
    import audio.sparkSession.implicits._
    audio.map { a =>
      val n = a.waveform.length
      var first = -1L
      var last = -1L
      var i = 0
      while (i < n) {
        val q = math.abs(math.round(a.waveform(i) * 32768f).toLong)
        if (q >= threshold) { if (first < 0) first = i; last = i }
        i += 1
      }
      val lead = if (first < 0) n.toLong else first
      val tail = if (last < 0) n.toLong else n - 1L - last
      val trimmed = if (first < 0) 0L else last - first + 1L
      (a.file.toLong, n.toLong, first, last, lead, tail, trimmed)
    }.toDF("file", "n_samples", "first_loud", "last_loud", "n_lead",
      "n_tail", "trimmed_len")
  }

  /** L169 — AMPLITUDE-PEAK / CLIPPING GATE over decoded audio — the
    * cheap loudness-damage filter a speech-curation pass runs right
    * after decode (a clipped recording poisons every downstream model
    * stage): per file the peak quantized amplitude, the count of
    * samples at or above `hotThreshold` (in the engine's int16-scaled
    * quantization, |round(x·32768)|), their rate, and the gate flag.
    * Counts are exact integers (the decode path is bit-exact and the
    * int16-domain quantization is lossless for in-range synthesis —
    * the mm_audio_features roundtrip invariant); the rate is the
    * single division.
    *
    * Scale shape: one typed map over the decoded files (no shuffle),
    * counts fold per file in one pass over the waveform.
    *
    * Output: (file, n_samples, peak_q, n_hot, hot_rate, clipped).
    */
  /** L208 — LOUDNESS GAIN PLAN over the real decode path: per file the
    * exact integer amplitude facts (peak |q|, Σq² energy, n) and the
    * LARGEST gain from a fixed e6-scaled ladder that keeps the
    * post-gain peak under `ceilQ` — the headroom-constrained
    * normalization decision a speech-curation pass makes before any
    * model stage (quiet rooms get boosted, hot takes are left alone or
    * flagged −1 when even the smallest rung would clip). A ladder —
    * not a continuous RMS division — keeps every number integer-exact
    * and the plan replayable in SQL; continuous loudness targets
    * (LUFS) live behind the same facts.
    *
    * Scale shape: one typed map over decoded audio (no shuffle), the
    * ladder pick a constant-size HOF fold.
    *
    * Output: (file, n_samples, peak_q, sum_sq, gain_e6, post_peak_q).
    */
  def gainPlan(audio: Dataset[graft.model.AudioFile],
      gainLadderE6: Seq[Long], ceilQ: Long): DataFrame = {
    require(gainLadderE6.nonEmpty && gainLadderE6.forall(_ >= 1L),
      s"gain ladder must be positive, got $gainLadderE6")
    require(ceilQ >= 1L && ceilQ <= 32768L, s"need 1 <= ceilQ <= 32768, got $ceilQ")
    import audio.sparkSession.implicits._
    val ladder = gainLadderE6.sorted.map(g => s"${g}L").mkString(", ")
    audio.map { a =>
      var peak = 0L
      var ss = 0L
      var i = 0
      while (i < a.waveform.length) {
        val q = math.abs(math.round(a.waveform(i) * 32768f).toLong)
        if (q > peak) peak = q
        ss += q * q
        i += 1
      }
      (a.file.toLong, a.waveform.length.toLong, peak, ss)
    }.toDF("file", "n_samples", "peak_q", "sum_sq")
      .withColumn("gain_e6", expr(
        s"aggregate(array($ladder), -1L, (acc, g) -> " +
          s"IF(peak_q * g <= ${ceilQ}L * 1000000L, greatest(acc, g), acc))"))
      .withColumn("post_peak_q",
        when(col("gain_e6") > 0L, expr("(peak_q * gain_e6) div 1000000L"))
          .otherwise(lit(-1L)))
  }

  /** L214 — AUDIO METADATA AUDIT + PRIVACY SCRUB (the audio twin of
    * [[imageMetaAudit]]): real encoder output gains spec-valid
    * container tags (RIFF LIST/INFO sub-chunks for WAV, a FLAC
    * VORBIS_COMMENT block plus optional PADDING), the byte-level probe
    * reads them back, and [[graft.pipeline.AudioMeta.strip]] removes
    * them all WITHOUT re-encoding — certified per row by a second
    * probe AND a bit-exact decode comparison of both the tagged and
    * the stripped container against the source quantized samples.
    * This is the scrub an in-the-wild audio corpus needs before
    * training: artist/device/location strings ride in exactly these
    * structures.
    *
    * Input columns: id, kind ("wav" | "flac" | "flac_lpc"), q
    * (array<int> of int16 sample values), n_fields (tags to mint),
    * pad (FLAC-only: add a 64-byte PADDING block). One typed
    * mapPartitions — per-row codec work only, no shuffle; at 100 TB
    * this scales with executors exactly like the decode path.
    *
    * Output: (id, format, n_samples, n_fields, meta_bytes,
    * n_fields_stripped, meta_bytes_stripped, decode_ok) — meta_bytes
    * is the on-disk bytes the scrub reclaims (whole chunks/blocks
    * including their headers), deterministic from the mint formula so
    * the SQL oracle replays it; a wrong chunk walk, a strip that
    * damages the container, or a metadata insert that perturbs the
    * coded payload cannot hash-match.
    */
  def audioMetaAudit(df: DataFrame, idCol: String, kindCol: String,
      qCol: String, nFieldsCol: String, padCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(kindCol).cast("string"),
        col(qCol).cast("array<int>"), col(nFieldsCol).cast("int"),
        col(padCol).cast("boolean"))
      .as[(Long, String, Array[Int], Int, Boolean)]
      .mapPartitions { it =>
        import graft.pipeline.{AudioMeta, FlacAudio, WavAudio}
        val wavKeys = Vector("INAM", "IART", "ICMT")
        it.map { case (id, kind, q, nFields, pad) =>
          require(nFields <= wavKeys.size,
            s"audit mints at most ${wavKeys.size} fields, got $nFields")
          // The audit's normalize (q/32767) and requant (round(v·32768))
          // scales are asymmetric at full negative scale: q = -32768
          // would normalize to -1.00003, clamp in the encoder, and
          // round-trip as -32767 — a FALSE decode_ok failure on a legal
          // int16 sample. Reject it loudly instead of mis-certifying.
          q.foreach(v => require(v >= -32767 && v <= 32767,
            s"audioMetaAudit: sample $v outside the symmetric int16 " +
              "range [-32767, 32767] the roundtrip certification covers"))
          val sam = q.map(_ / 32767f)
          val value = "v%07d".format(id)
          val tagged = kind match {
            case "wav" =>
              AudioMeta.wavWithInfo(WavAudio.encode(8000, sam),
                (0 until nFields).map(i => (wavKeys(i), value)))
            case "flac" | "flac_lpc" =>
              val enc = FlacAudio.encode(8000, sam, lpc = kind == "flac_lpc")
              val tag = AudioMeta.flacWithVorbisComment(enc, "graft0",
                (0 until nFields).map(i => (s"K$i", value)))
              if (pad) AudioMeta.flacWithPadding(tag, 64) else tag
            case other => throw new IllegalArgumentException(
              s"unknown audio kind $other")
          }
          val m1 = AudioMeta.probeMeta(tagged)
          val stripped = AudioMeta.strip(tagged)
          val m2 = AudioMeta.probeMeta(stripped)
          def requant(bytes: Array[Byte]): Array[Int] =
            WavAudio.decode(bytes)._2.map(v => math.round(v * 32768f))
          val ok = java.util.Arrays.equals(requant(tagged), q) &&
            java.util.Arrays.equals(requant(stripped), q)
          (id, m1.format, q.length.toLong, m1.nFields, m1.metaBytes,
            m2.nFields, m2.metaBytes, ok)
        }
      }
      .toDF(idCol, "format", "n_samples", "n_fields", "meta_bytes",
        "n_fields_stripped", "meta_bytes_stripped", "decode_ok")
  }

  /** L241 — RATIONAL RESAMPLE PLAN over the real decode path: the
    * exact L/M polyphase parameters a 16 kHz-normalizing speech
    * pipeline (the reference resamples everything to 16 kHz before
    * VAD/ASR) derives per file — upsample L = target/gcd, downsample
    * M = sr/gcd, output length floor(n·L/M) (documented convention),
    * and the polyphase tap budget (24 taps per phase × L phases).
    * Planning is exact integer arithmetic; the DSP kernel itself is a
    * separate concern — this is the SHAPE the scheduler sizes buffers
    * and cost models with, per-row and shuffle-free.
    *
    * Output: (file, sr_in, n_samples, l_up, m_down, n_out, n_taps).
    */
  def resamplePlan(audio: Dataset[graft.model.AudioFile],
      targetSr: Int): DataFrame = {
    import audio.sparkSession.implicits._
    require(targetSr > 0, s"bad target sample rate $targetSr")
    audio.map { a =>
      require(a.sr > 0, s"file ${a.file}: bad input rate ${a.sr}")
      val g = BigInt(targetSr).gcd(BigInt(a.sr)).toLong
      val l = targetSr / g
      val m = a.sr / g
      val nOut = a.waveform.length.toLong * l / m
      (a.file.toLong, a.sr.toLong, a.waveform.length.toLong, l, m,
        nOut, 24L * l)
    }.toDF("file", "sr_in", "n_samples", "l_up", "m_down", "n_out",
      "n_taps")
  }

  def amplitudeStats(audio: Dataset[graft.model.AudioFile],
      hotThreshold: Int): DataFrame = {
    import audio.sparkSession.implicits._
    audio.map { a =>
      var peak = 0L
      var hot = 0L
      var i = 0
      while (i < a.waveform.length) {
        val q = math.abs(math.round(a.waveform(i) * 32768f).toLong)
        if (q > peak) peak = q
        if (q >= hotThreshold) hot += 1
        i += 1
      }
      (a.file.toLong, a.waveform.length.toLong, peak, hot)
    }.toDF("file", "n_samples", "peak_q", "n_hot")
      .withColumn("hot_rate",
        when(col("n_samples") > 0L,
          col("n_hot").cast("double") / col("n_samples").cast("double"))
          .otherwise(lit(-1d)))
      .withColumn("clipped", col("n_hot") > 0L)
  }
}
