package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.GraftFunctions.dhash
import graft.ops.{Curation, Dedup, EventAnalytics, GraphOps, MLlibOps, Multimodal, Retrieval, SegmentAlgebra, SegmentOps, Similarity, TextOps}
import graft.QuerySupport._

/** Multimodal (image/video/audio-as-binary) operators
  * (SURVEY §2.11 mm_* ids).
  */
private[graft] object QueriesMultimodal {

  def entries: Seq[Q] = Seq(

    // Multimodal plumbing — opaque payload bytes with typed metadata
    // rollup (SURVEY §7.0; binary treated as octets, decode kept out of
    // the relational layer).
    Q("mm_binary_meta",
      (s, dir) => Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(octet_length(col("text")).cast("long")).as("total_bytes"),
          max(octet_length(col("text")).cast("long")).as("max_bytes"))
        .orderBy(col("source")),
      Some("""SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
        |  CAST(MAX(strlen(text)) AS BIGINT) AS max_bytes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),


    // Multimodal — mapPartitions decode plumbing with a deterministic
    // stub kernel whose integer outputs the oracle mirrors exactly.
    Q("mm_decode_stub",
      (s, dir) => Multimodal.decodeStub(
          Multimodal.asBinary(Tables.documents(s, dir), "doc_id", "text"))
        .toDF()
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  strlen(text) AS bytes,
        |  ((strlen(text) * 31 + 7) % 104729) % 640 AS width,
        |  ((strlen(text) * 31 + 7) % 104729) % 480 AS height,
        |  strlen(text) // 100 + 1 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin)),


    // Multimodal — frame-sample + aspect-fit resize over the stub-decoded
    // metadata: every 3rd frame, fitted to a 224×224 box in exact 1e-4
    // integer scale units. The codec kernels stay stubs; the relational
    // shape (explode per frame, dimension arithmetic) is real.
    Q("mm_frame_resize",
      (s, dir) => Multimodal.resizeStub(
          Multimodal.frameSample(
            Multimodal.decodeStub(
              Multimodal.asBinary(Tables.documents(s, dir), "doc_id", "text")),
            everyN = 3L),
          targetW = 224L, targetH = 224L)
        .select(col("doc_id"), col("kind"), col("frame"),
          col("scale_e4"), col("out_w"), col("out_h"))
        .orderBy(col("doc_id"), col("frame")),
      Some("""WITH m AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  ((strlen(text) * 31 + 7) % 104729) % 640 AS width,
        |  ((strlen(text) * 31 + 7) % 104729) % 480 AS height,
        |  strlen(text) // 100 + 1 AS n_frames
        |  FROM documents),
        |fr AS (SELECT doc_id, kind, width, height,
        |  unnest(range(0, (n_frames - 1) // 3 + 1)) * 3 AS frame FROM m),
        |rs AS (SELECT doc_id, kind, frame,
        |  least(2240000 // greatest(width, 1), 2240000 // greatest(height, 1)) AS scale_e4,
        |  greatest(width, 1) AS w1, greatest(height, 1) AS h1
        |  FROM fr)
        |SELECT doc_id, kind, frame, CAST(scale_e4 AS BIGINT) AS scale_e4,
        |  CAST((w1 * scale_e4) // 10000 AS BIGINT) AS out_w,
        |  CAST((h1 * scale_e4) // 10000 AS BIGINT) AS out_h
        |FROM rs ORDER BY doc_id, frame""".stripMargin)),


    // Multimodal — IMAGE NEAR-DUP by perceptual dHash over REAL DECODED
    // PIXELS (r9): each doc's 8×9 grid renders to a 27×16 16-bit gray
    // PNG (values reach 455 — wider than 8 bits, hence gray16), goes
    // through a real javax.imageio encode→decode roundtrip, and the
    // grid is re-extracted as cell means before hashing — so the dHash
    // consumes genuinely decoded pixels while the oracle keeps scoring
    // the synthesis formula (lossless + cell-constant ⇒ identity).
    // 64 brightness comparisons packed into four 16-bit bands,
    // pigeonhole (band, value) bucket-join candidates (recall 1 for
    // Hamming ≤ 3), exact popcount verify at ≤ 2. Families
    // (doc_id % 37) share a base grid; a per-doc single-cell
    // perturbation flips at most two comparison bits — exactly the
    // resize/re-encode robustness dHash exists for. The oracle
    // recomputes hashes closed-form and checks ALL pairs exhaustively:
    // candidate recall is part of what's verified.
    Q("mm_dhash_neardup",
      (s, dir) => {
        // quadratic-in-position grids spread band values across
        // families (a linear formula made most bands collide into
        // corpus-sized LSH buckets — measured 62 s at sf0.1 vs ~1 s
        // here); bounded slice doc_id < 2000 caps the pair output
        val grid = expr("transform(sequence(0, 71), i -> CAST(" +
          "((doc_id % 37 + 1) * (i * i + 7 * i + 13)) % 256 + " +
          "IF(i = doc_id % 72, 200 * ((doc_id div 37) % 2), 0) AS INT))")
        // fan the per-row PNG round-trip out to every core: the
        // doc_id < 2000 slice is 1-2 scan splits of one parquet file,
        // so without the repartition the codec ran near-single-threaded
        // (measured 2.2 s -> 1.2 s at sf0.1/local[32]); the shuffled
        // rows are (id, 72-int grid) — tiny next to the codec work
        val base = Multimodal.gridPngRoundtrip(
          Tables.documents(s, dir)
            .filter(col("doc_id") < 2000)
            .select(col("doc_id"), grid.as("g"))
            .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
          "doc_id", "g")
        val hashed = base
          .select(col("doc_id"), dhash(col("g")).as("bands"))
        Multimodal.dhashNearDupPairs(hashed, "doc_id", "bands", maxDist = 2)
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH g AS (SELECT doc_id, list_transform(range(0, 72), i ->
        |    ((doc_id % 37 + 1) * (i * i + 7 * i + 13)) % 256 +
        |    CASE WHEN i = doc_id % 72 THEN 200 * ((doc_id // 37) % 2) ELSE 0 END) AS grid
        |  FROM documents WHERE doc_id < 2000),
        |h AS (SELECT doc_id, list_transform(range(0, 4), b ->
        |    list_sum(list_transform(range(0, 16), t ->
        |      CASE WHEN grid[CAST(((b * 16 + t) // 8) * 9 + ((b * 16 + t) % 8) + 1 AS INTEGER)]
        |             > grid[CAST(((b * 16 + t) // 8) * 9 + ((b * 16 + t) % 8) + 2 AS INTEGER)]
        |      THEN (1 << t) ELSE 0 END))) AS bands FROM g),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b,
        |    CAST(list_sum(list_transform(range(1, 5), k ->
        |      bit_count(xor(CAST(x.bands[CAST(k AS INTEGER)] AS BIGINT),
        |                    CAST(y.bands[CAST(k AS INTEGER)] AS BIGINT))))) AS BIGINT) AS dist
        |  FROM h x JOIN h y ON x.doc_id < y.doc_id)
        |SELECT a, b, dist FROM p WHERE dist <= 2 ORDER BY a, b""".stripMargin)),


    // L177 — REAL IMAGE CODEC ROUNDTRIP audit (javax.imageio — the
    // image twin of s2_codec_roundtrip): synthesized RGB pixels encode
    // with a real per-doc codec (png/bmp lossless, jpg lossy) and
    // decode back; the oracle recomputes the synthesis formula's exact
    // checksums in SQL, so a broken encode/decode/pixel-order path
    // cannot hash-match. JPEG rows pin dims only (lossy), checksums -1.
    Q("mm_image_roundtrip",
      (s, dir) => {
        val rgb = expr("""transform(sequence(0, 383), i -> CAST(
          ((doc_id * 7 + (i % 24) * 13 + (i div 24) * 29) % 256) * 65536 +
          ((doc_id * 11 + (i % 24) * 3 + (i div 24) * 17) % 256) * 256 +
          ((doc_id * 5 + (i % 24) * 23 + (i div 24) * 7) % 256) AS INT))""")
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id"),
            when(col("doc_id") % 3 === 0, "png")
              .when(col("doc_id") % 3 === 1, "bmp")
              .otherwise("jpg").as("kind"),
            rgb.as("rgb"))
        Multimodal.imageRoundtrip(base, "doc_id", "kind", "rgb", w = 24, h = 16)
          .orderBy(col("doc_id"))
      },
      Some("""WITH px AS (SELECT doc_id, unnest(range(0, 384)) AS i
        |  FROM documents WHERE doc_id < 300),
        |ch AS (SELECT doc_id, i,
        |    (doc_id * 7 + (i % 24) * 13 + (i // 24) * 29) % 256 AS r,
        |    (doc_id * 11 + (i % 24) * 3 + (i // 24) * 17) % 256 AS g,
        |    (doc_id * 5 + (i % 24) * 23 + (i // 24) * 7) % 256 AS b
        |  FROM px),
        |agg AS (SELECT doc_id,
        |    CAST(SUM((299 * r + 587 * g + 114 * b) // 1000) AS BIGINT) AS sum_gray,
        |    CAST(SUM((i + 1) * (r + g + b)) AS BIGINT) AS psum
        |  FROM ch GROUP BY doc_id)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png'
        |       WHEN doc_id % 3 = 1 THEN 'bmp' ELSE 'jpg' END AS kind,
        |  CAST(24 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        |  CASE WHEN doc_id % 3 = 2 THEN -1 ELSE sum_gray END AS sum_gray,
        |  CASE WHEN doc_id % 3 = 2 THEN -1 ELSE psum END AS psum
        |FROM agg ORDER BY doc_id""".stripMargin)),


    // L180 — HEADER-ONLY IMAGE PROBE (the S3 twin for images): real
    // encoder output probed for dimensions from the container header
    // bytes alone — PNG IHDR big-endian, BMP BITMAPINFOHEADER
    // little-endian, GIF screen descriptor, JPEG SOF marker walk —
    // never decoding a raster. Formula dims per doc; the oracle
    // replays them, so a misparsed header layout or a dims-dishonoring
    // encoder cannot hash-match.
    Q("mm_image_probe",
      (s, dir) => {
        val base = Tables.documents(s, dir).filter(col("doc_id") < 400)
          .select(col("doc_id"),
            when(col("doc_id") % 4 === 0, "png")
              .when(col("doc_id") % 4 === 1, "bmp")
              .when(col("doc_id") % 4 === 2, "jpg")
              .otherwise("gif").as("kind"),
            (lit(16) + pmod(col("doc_id"), lit(13L))).cast("int").as("w"),
            (lit(8) + pmod(col("doc_id"), lit(7L))).cast("int").as("h"))
          .withColumn("rgb", expr("""transform(sequence(0, w * h - 1),
            i -> CAST((doc_id * 31 + i * 7) % 16777216 AS INT))"""))
        Multimodal.imageProbe(base, "doc_id", "kind", "rgb", "w", "h")
          .orderBy(col("doc_id"))
      },
      Some(imageProbeOracleSql)),


    // L200 — IMAGE METADATA AUDIT + PRIVACY SCRUB: real encoder output
    // gains spec-valid EXIF/ICC/text metadata (JPEG APP1 TIFF-IFD with
    // real CRC-bearing PNG chunk twins, GIF comment blocks), the
    // byte-level probe reads it back header-only, and the strip
    // operation removes it all without re-encoding — certified by a
    // second probe. Formula-minted orientation/text/ICC per doc; the
    // oracle replays the formulas, so a wrong IFD walk, CRC, or a
    // strip that damages the container cannot hash-match.
    Q("mm_image_meta",
      (s, dir) => {
        val base = Tables.documents(s, dir).filter(col("doc_id") < 400)
          .select(col("doc_id"),
            when(col("doc_id") % 4 === 0, "png")
              .when(col("doc_id") % 4 === 1, "bmp")
              .when(col("doc_id") % 4 === 2, "jpg")
              .otherwise("gif").as("kind"),
            (lit(16) + pmod(col("doc_id"), lit(13L))).cast("int").as("w"),
            (lit(8) + pmod(col("doc_id"), lit(7L))).cast("int").as("h"),
            (lit(1) + pmod(col("doc_id"), lit(8L))).cast("int").as("orient"),
            pmod(col("doc_id"), lit(3L)).cast("int").as("ntext"),
            (pmod(col("doc_id"), lit(5L)) === 0L).as("icc"))
          .withColumn("rgb", expr("""transform(sequence(0, w * h - 1),
            i -> CAST((doc_id * 31 + i * 7) % 16777216 AS INT))"""))
        Multimodal.imageMetaAudit(base, "doc_id", "kind", "rgb", "w", "h",
            "orient", "ntext", "icc")
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN 'png' WHEN doc_id % 4 = 1 THEN 'bmp'
        |         WHEN doc_id % 4 = 2 THEN 'jpg' ELSE 'gif' END AS format,
        |    CAST(16 + doc_id % 13 AS BIGINT) AS width,
        |    CAST(8 + doc_id % 7 AS BIGINT) AS height,
        |    doc_id % 4 AS k
        |  FROM documents WHERE doc_id < 400)
        |SELECT doc_id, format, width, height,
        |  CAST(CASE WHEN k IN (0, 2) THEN 1 + doc_id % 8 ELSE -1 END
        |    AS BIGINT) AS orientation,
        |  k IN (0, 2) AS has_exif,
        |  k IN (0, 2) AND doc_id % 5 = 0 AS has_icc,
        |  CAST(CASE WHEN k = 1 THEN 0 ELSE doc_id % 3 END AS BIGINT) AS n_text,
        |  width AS width_stripped, height AS height_stripped,
        |  CAST(-1 AS BIGINT) AS orientation_stripped,
        |  FALSE AS has_exif_stripped, FALSE AS has_icc_stripped,
        |  CAST(0 AS BIGINT) AS n_text_stripped
        |FROM d ORDER BY doc_id""".stripMargin)),

    // L178 — SHOT DETECTION ON DECODED PIXELS: per-frame images are
    // CONSTRUCTED so their dHash realizes a designed 64-bit hash (each
    // comparison bit is set by a +1/-1 step between adjacent cells),
    // rendered to 16-bit gray PNG, decoded with the real codec, grid
    // re-extracted, dHash-banded, and the shot sessionization (L119)
    // runs over the hashes. The oracle scores the DESIGNED hashes
    // directly — the whole decode→grid→dHash chain must realize them
    // bit-for-bit or the gate fails. Same shot shape as
    // mm_shot_keyframes: 8-frame shots (pattern jumps 8-16 bits),
    // 1-bit in-shot parity wiggle.
    Q("mm_image_shots",
      (s, dir) => {
        val frames = Tables.documents(s, dir).filter(col("doc_id") < 200)
          .select(col("doc_id"),
            explode(expr("sequence(0L, 23L + doc_id % 17)")).as("frame"))
        // grid[r*9+c] - grid[r*9+c+1] = +1 where designed bit (r*8+c)
        // is set, else -1; rightmost column anchors at 100
        val grid = expr("""transform(sequence(0, 71), i -> CAST(
          IF(i % 9 = 8, 100,
            100 + aggregate(sequence(i % 9, 7), 0, (acc, cc) -> acc + IF(
              (((frame div 8) % 4 = 1 AND ((i div 9) * 8 + cc) BETWEEN 4 AND 11) OR
               ((frame div 8) % 4 = 2 AND ((i div 9) * 8 + cc) BETWEEN 8 AND 15) OR
               ((frame div 8) % 4 = 3 AND ((i div 9) * 8 + cc) BETWEEN 16 AND 23) OR
               ((i div 9) * 8 + cc = 0 AND frame % 2 = 1)), 1, -1))) AS INT))""")
        // fan the per-frame PNG round-trip out by doc_id: the slice is
        // 1-2 scan splits, and hash-partitioning on doc_id both spreads
        // the codec across cores AND pre-satisfies the shot window's
        // clustering (no second exchange before the lag/cumsum pass)
        val dec = Multimodal.gridPngRoundtrip(
          frames.repartition(s.sparkContext.defaultParallelism, col("doc_id"))
            .select((col("doc_id") * 1000L + col("frame")).as("fkey"),
            grid.as("g")),
          "fkey", "g")
        val hashed0 = dec.select(
          (col("fkey") / 1000L).cast("long").as("doc_id"),
          pmod(col("fkey"), lit(1000L)).as("frame"), col("g"))
        val hashed = hashed0
          .select(col("doc_id"), col("frame"),
            dhash(col("g")).as("bands"))
          .withColumn("fhash",
            element_at(col("bands"), 1).cast("long")
              + element_at(col("bands"), 2).cast("long") * 65536L
              + element_at(col("bands"), 3).cast("long") * 4294967296L
              + element_at(col("bands"), 4).cast("long") * 281474976710656L)
        Multimodal.shotSegments(hashed, "doc_id", "frame", "fhash", maxDist = 3)
          .orderBy(col("doc_id"), col("shot_id"))
      },
      Some("""WITH f AS (SELECT doc_id, unnest(range(0, 24 + doc_id % 17)) AS frame
        |  FROM documents WHERE doc_id < 200),
        |h AS (SELECT doc_id, frame,
        |  CASE ((frame // 8) % 4)
        |    WHEN 0 THEN 0 WHEN 1 THEN 4080 WHEN 2 THEN 65280
        |    ELSE 16711680 END + (frame % 2) AS fhash FROM f),
        |c AS (SELECT doc_id, frame, CASE WHEN lag(fhash) OVER w IS NULL THEN 1
        |    WHEN bit_count(xor(lag(fhash) OVER w, fhash)) > 3 THEN 1 ELSE 0 END AS cut
        |  FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY frame)),
        |sid AS (SELECT doc_id, frame, CAST(SUM(cut) OVER (
        |    PARTITION BY doc_id ORDER BY frame) AS BIGINT) AS shot_id FROM c)
        |SELECT doc_id, shot_id, MIN(frame) AS key_frame,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames
        |FROM sid GROUP BY doc_id, shot_id
        |ORDER BY doc_id, shot_id""".stripMargin)),


    // L112 — AUDIO FINGERPRINTING (energy-contour grams): waveform
    // near-dup via exact-integer frame energies → rising-edge contour
    // bits (invariant under positive amplitude scaling) → 16-bit grams
    // → gram-bucketed Jaccard. 40 synthesized families of 3 variants
    // (identity / sparse additive noise / 51/50 integer regain); the
    // oracle replays the identical integer arithmetic (per-family sample
    // stride keeps families genuinely distinct) — quantize,
    // energies, contour, grams, pair Jaccard — in SQL. Bounded slice
    // (event_id < 120); the production path is the same gram-bucketed
    // equi join with the maxGramDf stop-gram cap.
    // L119 — SHOT-BOUNDARY DETECTION + keyframe selection: synthetic
    // per-frame perceptual hashes (slow in-shot wiggle = 1 parity bit,
    // shot transitions = 8-16 bit jumps every 8 frames, video salt in
    // the high bits cancels under xor), real lag/cumsum/agg pipeline —
    // one shuffle on the video id, shots collapse map-side.
    Q("mm_shot_keyframes",
      (s, dir) => {
        val frames = Tables.documents(s, dir).filter(col("doc_id") < 500)
          .select(col("doc_id"),
            explode(expr("sequence(0L, 23L + doc_id % 17)")).as("frame"))
          .withColumn("fhash", expr(
            """(doc_id % 256) * 4294967296L + CASE ((frame div 8) % 4)
               WHEN 0 THEN 0L WHEN 1 THEN 4080L WHEN 2 THEN 65280L
               ELSE 16711680L END + (frame % 2)"""))
        Multimodal.shotSegments(frames, "doc_id", "frame", "fhash", maxDist = 3)
          .orderBy(col("doc_id"), col("shot_id"))
      },
      Some(shotOracleSql)),


    // L120 — VIDEO NEAR-DUP by shot-keyframe hash sets: family copies
    // share all shots but one (a high-bit perturbation in one shot per
    // copy), so canonical↔copy Jaccard = 3/5 ≥ 0.5 while copy↔copy =
    // 1/3 and cross-family = 0 — the pair stage is the generic L112
    // set-Jaccard bucket join over (video, keyframe-hash) grams.
    Q("mm_video_neardup",
      (s, dir) => {
        val frames = Tables.documents(s, dir).filter(col("doc_id") < 500)
          .select(col("doc_id"), explode(expr("sequence(0L, 39L)")).as("frame"))
          .withColumn("fhash", expr(
            """(doc_id div 4) * 33554432L + CASE ((frame div 8) % 4)
               WHEN 0 THEN 0L WHEN 1 THEN 4080L WHEN 2 THEN 65280L
               ELSE 16711680L END +
               IF(doc_id % 4 > 0 AND (frame div 8) = (doc_id % 4), 8388608L, 0L) +
               frame % 2"""))
        val kh = Multimodal.videoKeyHashes(frames, "doc_id", "frame", "fhash",
          maxDist = 3)
        Multimodal.audioNearDupPairs(kh, "doc_id", minJaccard = 0.5)
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH f AS (SELECT doc_id, unnest(range(0, 40)) AS frame
        |  FROM documents WHERE doc_id < 500),
        |h AS (SELECT doc_id, frame,
        |  (doc_id // 4) * 33554432 + CASE ((frame // 8) % 4)
        |    WHEN 0 THEN 0 WHEN 1 THEN 4080 WHEN 2 THEN 65280
        |    ELSE 16711680 END
        |  + CASE WHEN doc_id % 4 > 0 AND (frame // 8) = (doc_id % 4)
        |      THEN 8388608 ELSE 0 END
        |  + frame % 2 AS fhash FROM f),
        |c AS (SELECT doc_id, fhash, CASE WHEN lag(fhash) OVER w IS NULL THEN 1
        |    WHEN bit_count(xor(lag(fhash) OVER w, fhash)) > 3 THEN 1 ELSE 0 END AS cut
        |  FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY frame)),
        |kh AS (SELECT DISTINCT doc_id, fhash AS gram FROM c WHERE cut = 1),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM kh GROUP BY 1),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM kh x JOIN kh y ON x.gram = y.gram AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT p.a, p.b, p.n_shared,
        |  CAST(p.n_shared AS DOUBLE) / CAST(sa.n + sb.n - p.n_shared AS DOUBLE) AS jaccard
        |FROM p JOIN sz sa ON sa.doc_id = p.a JOIN sz sb ON sb.doc_id = p.b
        |WHERE CAST(p.n_shared AS DOUBLE) / CAST(sa.n + sb.n - p.n_shared AS DOUBLE) >= 0.5
        |ORDER BY a, b""".stripMargin)),


    Q("mm_audio_fingerprint",
      (s, dir) => {
        val ids = Tables.events(s, dir)
          .select(col("event_id").cast("long").as("id"))
          .filter(col("id") < 120).distinct()
        val waves = ids.withColumn("wave", expr(
          """transform(sequence(0, 6399), j -> CAST(CAST(
            |CASE WHEN id % 3 = 0 THEN ((id div 3) * 31 + j * (13 + 2 * ((id div 3) % 23))) % 201 * 20
            |     WHEN id % 3 = 1 THEN ((id div 3) * 31 + j * (13 + 2 * ((id div 3) % 23))) % 201 * 20 + IF(j % 33 = 0, 40, 0)
            |     ELSE ((id div 3) * 31 + j * (13 + 2 * ((id div 3) % 23))) % 201 * 20 * 51 div 50 END
            |AS DOUBLE) / 32767D AS FLOAT))""".stripMargin))
        val grams = Multimodal.audioContourGrams(waves, "id", "wave",
          frame = 64, k = 16)
        Multimodal.audioNearDupPairs(grams, "id", 0.5)
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 120),
        |w AS (SELECT id, list_transform(range(0, 6400), j ->
        |    CASE WHEN id % 3 = 0 THEN ((id // 3) * 31 + j * (13 + 2 * ((id // 3) % 23))) % 201 * 20
        |         WHEN id % 3 = 1 THEN ((id // 3) * 31 + j * (13 + 2 * ((id // 3) % 23))) % 201 * 20
        |           + CASE WHEN j % 33 = 0 THEN 40 ELSE 0 END
        |         ELSE ((id // 3) * 31 + j * (13 + 2 * ((id // 3) % 23))) % 201 * 20 * 51 // 50 END) AS iw
        |  FROM ids),
        |en AS (SELECT id, list_transform(range(0, 100), f ->
        |    list_sum(list_transform(range(0, 64), t ->
        |      iw[CAST(f * 64 + t + 1 AS INTEGER)] * iw[CAST(f * 64 + t + 1 AS INTEGER)]))) AS e
        |  FROM w),
        |bt AS (SELECT id, list_transform(range(0, 99), i ->
        |    CASE WHEN e[CAST(i + 2 AS INTEGER)] > e[CAST(i + 1 AS INTEGER)]
        |    THEN 1 ELSE 0 END) AS b FROM en),
        |gp AS (SELECT id, unnest(range(0, 84)) AS i, b FROM bt),
        |g AS (SELECT DISTINCT id, CAST(list_sum(list_transform(range(0, 16), j ->
        |    b[CAST(i + j + 1 AS INTEGER)] * (1 << CAST(15 - j AS INTEGER)))) AS BIGINT) AS gram
        |  FROM gp),
        |sz AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY id),
        |sh AS (SELECT x.id AS a, y.id AS b, CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM g x JOIN g y ON x.gram = y.gram AND x.id < y.id GROUP BY x.id, y.id),
        |jc AS (SELECT a, b, n_shared,
        |  CAST(n_shared AS DOUBLE) / CAST(sa.n + sb.n - n_shared AS DOUBLE) AS jaccard
        |  FROM sh JOIN sz sa ON sa.id = a JOIN sz sb ON sb.id = b)
        |SELECT a, b, n_shared, jaccard FROM jc WHERE jaccard >= 0.5
        |ORDER BY a, b""".stripMargin)),


    // Multimodal — REAL audio feature extraction: decode (WAV via
    // javax.sound for id%3=0, FLAC fixed-predictor for 1, FLAC LPC for
    // 2 — three genuine codec paths), then per-100-sample window the
    // integer energy (Σq²) and zero-crossing count. Lossless 16-bit
    // round-trip keeps every feature in the exact integer domain, so
    // DuckDB recomputes them from the synthesis formula without
    // touching audio. Bounded slice (event_id < 200).
    Q("mm_audio_features",
      (s, dir) => {
        import s.implicits._
        import graft.pipeline.{FlacAudio, WavAudio}
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 200).distinct().as[Long]
        val payloads = ids.map { id =>
          val n = (300 + id % 500).toInt
          val sam = Array.tabulate(n)(i =>
            ((id * 13 + i.toLong * 29) % 401 - 200) * 25 / 32767f)
          val bytes = (id % 3) match {
            case 0 => WavAudio.encode(8000, sam)
            case 1 => FlacAudio.encode(8000, sam)
            case _ => FlacAudio.encode(8000, sam, lpc = true)
          }
          (id.toString, bytes)
        }
        WavAudio.decodeDataset(payloads)
          .flatMap { a =>
            val q = a.waveform.map(x => math.round(x * 32768f))
            q.grouped(100).zipWithIndex.map { case (win, wi) =>
              val ss = win.foldLeft(0L)((acc, v) => acc + v * v)
              val zc = win.sliding(2)
                .count(p => p.length == 2 && p(0) * p(1) < 0)
              (a.file.toLong, wi.toLong, win.length.toLong, ss, zc.toLong)
            }
          }
          .toDF("event_id", "win", "n", "sum_sq", "zero_cross")
          .orderBy(col("event_id"), col("win"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS event_id
        |  FROM events WHERE event_id < 200),
        |c AS (SELECT event_id, CAST(300 + event_id % 500 AS BIGINT) AS n FROM ids),
        |wins AS (SELECT event_id, n, unnest(range((n + 99) // 100)) AS win FROM c),
        |b AS (SELECT event_id, win, win * 100 AS lo,
        |  least(n, win * 100 + 100) AS hi FROM wins)
        |SELECT event_id, CAST(win AS BIGINT) AS win, CAST(hi - lo AS BIGINT) AS n,
        |  CAST(list_sum(list_transform(range(lo, hi),
        |    i -> ((event_id*13 + i*29) % 401 - 200) * 25
        |       * (((event_id*13 + i*29) % 401 - 200) * 25))) AS BIGINT) AS sum_sq,
        |  CAST(COALESCE(list_sum(list_transform(range(lo, hi - 1),
        |    i -> CASE WHEN ((event_id*13 + i*29) % 401 - 200)
        |              * ((event_id*13 + (i+1)*29) % 401 - 200) < 0
        |         THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_cross
        |FROM b ORDER BY event_id, win""".stripMargin))
    ,

    // L169 — amplitude-peak / clipping gate: every 4th file synthesized
    // 2x hot (peaks 10000 > the 9000 gate), the rest peak at 5000 —
    // decode is bit-exact (WAV + both FLAC modes), quantization back to
    // the int16 domain is lossless, so the oracle replays the synthesis
    // formula in pure integers.
    // L208 — loudness gain plan over the real WAV/FLAC decode path
    // (same payload mint as mm_clipping): exact peak/energy facts plus
    // the largest ladder gain that keeps the post-gain peak under
    // 30000 — the headroom-constrained normalization decision, every
    // number integer-exact and formula-replayed by the oracle.
    Q("mm_gain_plan",
      (s, dir) => {
        import s.implicits._
        import graft.pipeline.{FlacAudio, WavAudio}
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 200).distinct().as[Long]
        val payloads = ids.map { id =>
          val n = (300 + id % 500).toInt
          val mult = if (id % 4 == 0) 2 else 1
          val sam = Array.tabulate(n)(i =>
            ((id * 13 + i.toLong * 29) % 401 - 200) * 25 * mult / 32767f)
          val bytes = (id % 3) match {
            case 0 => WavAudio.encode(8000, sam)
            case 1 => FlacAudio.encode(8000, sam)
            case _ => FlacAudio.encode(8000, sam, lpc = true)
          }
          (id.toString, bytes)
        }
        Multimodal.gainPlan(WavAudio.decodeDataset(payloads),
            gainLadderE6 = Seq(250000L, 500000L, 1000000L, 2000000L,
              4000000L), ceilQ = 30000L)
          .orderBy(col("file"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 200),
        |c AS (SELECT id, CAST(300 + id % 500 AS BIGINT) AS n,
        |    CASE WHEN id % 4 = 0 THEN 2 ELSE 1 END AS mult FROM ids),
        |q AS (SELECT id, n,
        |    list_transform(range(0, n),
        |      i -> abs(((id * 13 + i * 29) % 401 - 200) * 25 * mult)) AS qs
        |  FROM c),
        |f AS (SELECT id AS file, n AS n_samples,
        |    CAST(list_max(qs) AS BIGINT) AS peak_q,
        |    CAST(list_sum(list_transform(qs, x -> x * x)) AS BIGINT) AS sum_sq
        |  FROM q),
        |g AS (SELECT *, CAST(list_reduce(
        |    list_prepend(CAST(-1 AS BIGINT),
        |      [250000, 500000, 1000000, 2000000, 4000000]),
        |    (acc, gg) -> CASE WHEN peak_q * gg <= CAST(30000000000 AS BIGINT)
        |      THEN greatest(acc, CAST(gg AS BIGINT)) ELSE acc END)
        |    AS BIGINT) AS gain_e6 FROM f)
        |SELECT file, n_samples, peak_q, sum_sq, gain_e6,
        |  CAST(CASE WHEN gain_e6 > 0 THEN (peak_q * gain_e6) // 1000000
        |    ELSE -1 END AS BIGINT) AS post_peak_q
        |FROM g ORDER BY file""".stripMargin)),

    Q("mm_clipping",
      (s, dir) => {
        import s.implicits._
        import graft.pipeline.{FlacAudio, WavAudio}
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 200).distinct().as[Long]
        val payloads = ids.map { id =>
          val n = (300 + id % 500).toInt
          val mult = if (id % 4 == 0) 2 else 1
          val sam = Array.tabulate(n)(i =>
            ((id * 13 + i.toLong * 29) % 401 - 200) * 25 * mult / 32767f)
          val bytes = (id % 3) match {
            case 0 => WavAudio.encode(8000, sam)
            case 1 => FlacAudio.encode(8000, sam)
            case _ => FlacAudio.encode(8000, sam, lpc = true)
          }
          (id.toString, bytes)
        }
        Multimodal.amplitudeStats(WavAudio.decodeDataset(payloads), 9000)
          .orderBy(col("file"))
      },
      Some(clippingOracleSql)),


    // L195 — silence-trim offsets over the real decode path: the
    // clipping-family payloads padded with id%7 leading and id%5
    // trailing zero samples; the trimmer must locate the first/last
    // |q| >= 2000 sample exactly (mult=1 files peak at 5000, so the
    // threshold is interior), all-silent impossible here but the -1
    // flag path is OpsSpec-pinned.
    Q("mm_silence_trim",
      (s, dir) => {
        import s.implicits._
        import graft.pipeline.{FlacAudio, WavAudio}
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 200).distinct().as[Long]
        val payloads = ids.map { id =>
          val n = (300 + id % 500).toInt
          val mult = if (id % 4 == 0) 2 else 1
          val body = Array.tabulate(n)(i =>
            ((id * 13 + i.toLong * 29) % 401 - 200) * 25 * mult / 32767f)
          val sam = new Array[Float]((id % 7).toInt) ++ body ++
            new Array[Float]((id % 5).toInt)
          val bytes = (id % 3) match {
            case 0 => WavAudio.encode(8000, sam)
            case 1 => FlacAudio.encode(8000, sam)
            case _ => FlacAudio.encode(8000, sam, lpc = true)
          }
          (id.toString, bytes)
        }
        Multimodal.silenceTrimOffsets(WavAudio.decodeDataset(payloads), 2000)
          .orderBy(col("file"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 200),
        |c AS (SELECT id, CAST(300 + id % 500 AS BIGINT) AS n,
        |    CASE WHEN id % 4 = 0 THEN 2 ELSE 1 END AS mult,
        |    id % 7 AS pl, id % 5 AS pt FROM ids),
        |q AS (SELECT id, pl + n + pt AS nt,
        |    list_filter(range(0, n),
        |      i -> abs(((id * 13 + i * 29) % 401 - 200) * 25 * mult) >= 2000)
        |      AS loud, pl
        |  FROM c),
        |r AS (SELECT id, nt,
        |    CASE WHEN len(loud) = 0 THEN -1 ELSE pl + loud[1] END AS fl,
        |    CASE WHEN len(loud) = 0 THEN -1
        |      ELSE pl + loud[CAST(len(loud) AS INTEGER)] END AS ll
        |  FROM q)
        |SELECT id AS file, CAST(nt AS BIGINT) AS n_samples,
        |  CAST(fl AS BIGINT) AS first_loud, CAST(ll AS BIGINT) AS last_loud,
        |  CAST(CASE WHEN fl < 0 THEN nt ELSE fl END AS BIGINT) AS n_lead,
        |  CAST(CASE WHEN ll < 0 THEN nt ELSE nt - 1 - ll END AS BIGINT) AS n_tail,
        |  CAST(CASE WHEN fl < 0 THEN 0 ELSE ll - fl + 1 END AS BIGINT) AS trimmed_len
        |FROM r ORDER BY file""".stripMargin)),


    // L214 — AUDIO METADATA AUDIT + PRIVACY SCRUB: real encoder output
    // gains spec-valid container tags (RIFF LIST/INFO sub-chunks, FLAC
    // VORBIS_COMMENT + PADDING blocks), the byte-level probe reads
    // them back, and the strip removes them all without re-encoding —
    // certified by a second probe AND a bit-exact decode comparison of
    // both containers. Formula-minted field counts and tag payloads;
    // the oracle replays the exact on-disk metadata byte count from
    // the container specs, so a wrong chunk walk, CRC-damaging strip,
    // or payload-perturbing insert cannot hash-match.
    Q("mm_audio_meta",
      (s, dir) => {
        val base = Tables.events(s, dir)
          .select(col("event_id").cast("long").as("id"))
          .filter(col("id") < 240).distinct()
          .select(col("id"),
            when(pmod(col("id"), lit(3L)) === 0L, "wav")
              .when(pmod(col("id"), lit(3L)) === 1L, "flac")
              .otherwise("flac_lpc").as("kind"),
            (lit(1L) + pmod(expr("id div 3"), lit(3L))).cast("int").as("nf"),
            (pmod(col("id"), lit(5L)) === 0L).as("pad"))
          .withColumn("q", expr("""transform(sequence(0L, 299L + id % 500),
            i -> CAST(((id * 13 + i * 29) % 401 - 200) * 25 AS INT))"""))
        Multimodal.audioMetaAudit(base, "id", "kind", "q", "nf", "pad")
          .orderBy(col("id"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 240),
        |c AS (SELECT id,
        |    CASE WHEN id % 3 = 0 THEN 'wav' ELSE 'flac' END AS format,
        |    CAST(300 + id % 500 AS BIGINT) AS n_samples,
        |    1 + (id // 3) % 3 AS nf,
        |    id % 5 = 0 AND id % 3 <> 0 AS pad
        |  FROM ids)
        |SELECT id, format, n_samples, CAST(nf AS BIGINT) AS n_fields,
        |  CAST(CASE WHEN format = 'wav' THEN 12 + 18 * nf
        |    ELSE 18 + 15 * nf + CASE WHEN pad THEN 68 ELSE 0 END END
        |    AS BIGINT) AS meta_bytes,
        |  CAST(0 AS BIGINT) AS n_fields_stripped,
        |  CAST(0 AS BIGINT) AS meta_bytes_stripped,
        |  TRUE AS decode_ok
        |FROM c ORDER BY id""".stripMargin)),

    // L241 — RATIONAL RESAMPLE PLAN over the real decode path: files
    // encoded at four real rates (8/12/22.05/44.1 kHz, WAV and FLAC),
    // decoded, and planned to 16 kHz — exact gcd-derived L/M, output
    // length, and polyphase tap budget; the oracle replays the rate
    // formula and DuckDB's gcd, so a wrong STREAMINFO/fmt-chunk rate
    // parse surfaces here.
    Q("mm_resample_plan",
      (s, dir) => {
        import s.implicits._
        import graft.pipeline.{FlacAudio, WavAudio}
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 200).distinct().as[Long]
        val rates = Array(8000, 12000, 22050, 44100)
        val payloads = ids.map { id =>
          val n = (300 + id % 500).toInt
          val sam = Array.tabulate(n)(i =>
            ((id * 13 + i.toLong * 29) % 401 - 200) * 25 / 32767f)
          val sr = rates((id % 4).toInt)
          val bytes = if (id % 2 == 0) WavAudio.encode(sr, sam)
            else FlacAudio.encode(sr, sam)
          (id.toString, bytes)
        }
        Multimodal.resamplePlan(WavAudio.decodeDataset(payloads), 16000)
          .orderBy(col("file"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 200),
        |c AS (SELECT id, CAST(300 + id % 500 AS BIGINT) AS n,
        |    CASE CAST(id % 4 AS INTEGER) WHEN 0 THEN 8000 WHEN 1 THEN 12000
        |      WHEN 2 THEN 22050 ELSE 44100 END AS sr FROM ids),
        |p AS (SELECT id, sr, n, gcd(16000, sr) AS g FROM c)
        |SELECT id AS file, CAST(sr AS BIGINT) AS sr_in, n AS n_samples,
        |  CAST(16000 // g AS BIGINT) AS l_up,
        |  CAST(sr // g AS BIGINT) AS m_down,
        |  CAST((n * (16000 // g)) // (sr // g) AS BIGINT) AS n_out,
        |  CAST(24 * (16000 // g) AS BIGINT) AS n_taps
        |FROM p ORDER BY file""".stripMargin)),

    // L188 — zero-crossing-rate features over the same real decode
    // path as mm_clipping (WAV/FLAC bit-exact roundtrip): strict sign
    // flips on the int16-quantized samples, e6 rate, and the per-frame
    // low-ZCR (voiced-candidate) gate — all exact integers the oracle
    // replays from the synthesis formula with signs intact.
    Q("mm_audio_zcr",
      (s, dir) => {
        import s.implicits._
        import graft.pipeline.{FlacAudio, WavAudio}
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 200).distinct().as[Long]
        val payloads = ids.map { id =>
          val n = (300 + id % 500).toInt
          val mult = if (id % 4 == 0) 2 else 1
          val sam = Array.tabulate(n)(i =>
            ((id * 13 + i.toLong * 29) % 401 - 200) * 25 * mult / 32767f)
          val bytes = (id % 3) match {
            case 0 => WavAudio.encode(8000, sam)
            case 1 => FlacAudio.encode(8000, sam)
            case _ => FlacAudio.encode(8000, sam, lpc = true)
          }
          (id.toString, bytes)
        }
        Multimodal.zeroCrossingStats(WavAudio.decodeDataset(payloads),
            frame = 100, maxZcLow = 20)
          .orderBy(col("file"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 200),
        |c AS (SELECT id, CAST(300 + id % 500 AS BIGINT) AS n,
        |    CASE WHEN id % 4 = 0 THEN 2 ELSE 1 END AS mult FROM ids),
        |q AS (SELECT id, n,
        |    list_transform(range(0, n),
        |      i -> ((id * 13 + i * 29) % 401 - 200) * 25 * mult) AS vs
        |  FROM c),
        |z AS (SELECT id, n,
        |    CAST(len(list_filter(range(1, n),
        |      i -> vs[CAST(i AS INTEGER)] * vs[CAST(i + 1 AS INTEGER)] < 0))
        |      AS BIGINT) AS n_zc,
        |    n // 100 AS nf,
        |    list_transform(range(0, n // 100), f ->
        |      len(list_filter(range(f * 100 + 1, f * 100 + 100),
        |        i -> vs[CAST(i AS INTEGER)] * vs[CAST(i + 1 AS INTEGER)] < 0)))
        |      AS fz
        |  FROM q)
        |SELECT id AS file, n AS n_samples, n_zc,
        |  CAST(CASE WHEN n > 1 THEN (n_zc * 1000000) // (n - 1)
        |    ELSE -1 END AS BIGINT) AS zcr_e6,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(len(list_filter(fz, x -> x <= 20)) AS BIGINT) AS n_low_frames
        |FROM z ORDER BY file""".stripMargin)),


    // L192 — ViT patchify stats over the real codec roundtrip: 32x32
    // gray16 images (formula pixels, 16-bit range) split into 8x8
    // patches of 4x4 px after a real PNG16 encode->decode; the oracle
    // replays the synthesis per patch — lossless means identical.
    Q("mm_patch_stats",
      (s, dir) => {
        val px = expr("""transform(sequence(0, 1023), i -> CAST(
          (doc_id * 7 + (i % 32) * 13 + (i div 32) * 29) % 1009 AS INT))""")
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id"), px.as("px"))
        Multimodal.patchStats(base, "doc_id", "px", w = 32, h = 32,
            pw = 4, ph = 4)
          .orderBy(col("doc_id"), col("patch_idx"))
      },
      Some("""WITH px AS (SELECT doc_id, unnest(range(0, 1024)) AS i
        |  FROM documents WHERE doc_id < 300),
        |v AS (SELECT doc_id, i,
        |    (doc_id * 7 + (i % 32) * 13 + (i // 32) * 29) % 1009 AS v,
        |    ((i // 32) // 4) * 8 + (i % 32) // 4 AS patch_idx
        |  FROM px)
        |SELECT doc_id, CAST(patch_idx AS BIGINT) AS patch_idx,
        |  CAST(MIN(v) AS BIGINT) AS p_min, CAST(MAX(v) AS BIGINT) AS p_max,
        |  CAST(SUM(v) AS BIGINT) AS p_sum,
        |  CAST(SUM(v) // 16 AS BIGINT) AS p_mean
        |FROM v GROUP BY doc_id, patch_idx
        |ORDER BY doc_id, patch_idx""".stripMargin)),


    // L187 — streaming header-only image probe (L180∘streaming, the
    // S1/S3-at-ingest parallel): image payloads PROBED AS THEY ARRIVE
    // — container-header dims only, never a raster decode — stateless
    // append, no state store; the payload parquet (real encoder
    // output, four containers) stages once per session.
    Q("streaming_image_probe",
      (s, dir) => QuerySupport.withStreamingPartitions(s) {
        import s.implicits._
        import graft.pipeline.{ImageCodec, ImageProbe}
        val srcDir = QuerySupport.stagedStreamSource("image_payloads", s, dir) { p =>
          val base = Tables.documents(s, dir).filter(col("doc_id") < 400)
            .select(col("doc_id")).as[Long]
          val payloads = base.map { id =>
            val w = (16 + id % 13).toInt
            val h = (8 + id % 7).toInt
            val argb = Array.tabulate(w * h)(i =>
              0xff000000 | ((id * 31 + i * 7) % 16777216).toInt)
            val bytes = (id % 4) match {
              case 0 => ImageCodec.encodePng(w, h, argb)
              case 1 => ImageCodec.encodeBmp(w, h, argb)
              case 2 => ImageCodec.encodeJpeg(w, h, argb)
              case _ => ImageCodec.encodeGif(w, h, argb)
            }
            (id, bytes)
          }.toDF("doc_id", "payload")
          QuerySupport.writeHeartbeat(payloads, p, "img_payloads.parquet")
        }
        val schema = s.read.parquet(srcDir).schema
        val probed = s.readStream.schema(schema).parquet(srcDir)
          .as[(Long, Array[Byte])]
          .map { case (id, bytes) =>
            val info = ImageProbe.probe(bytes)
            (id, info.format, info.width, info.height)
          }.toDF("doc_id", "format", "width", "height")
        QuerySupport.runToMemory(s, "iprobe", "append")(probed)
          .filter(col("doc_id") >= 0).orderBy(col("doc_id"))
      },
      Some(imageProbeOracleSql)),

    // L235 — PDF STRUCTURAL PROBE: version, object/page counts,
    // trailer /Encrypt, and startxref→xref agreement read from the raw
    // bytes of minted spec-valid files (byte-accurate xref offsets) —
    // the ingest gate a document crawl applies before the text
    // extractor (encrypted/xref-broken files route to the S10 failed
    // path); never decompresses a stream. The oracle replays every
    // count from the mint formulas; the hand-laid literal pin lives in
    // the spec.
    Q("mm_pdf_probe",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
        val probed = base.map { id =>
          import graft.pipeline.PdfProbe
          val bytes = PdfProbe.mint((4 + id % 4).toInt, (1 + id % 5).toInt,
            encrypt = id % 6 == 0)
          val p = PdfProbe.probe(bytes)
          (id, p.versionMinor, p.nObjects, p.nPages, p.pagesCount,
            p.hasEncrypt, p.xrefOk)
        }.toDF("doc_id", "version_minor", "n_objects", "n_pages",
          "pages_count", "has_encrypt", "xref_ok")
        probed.orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  CAST(4 + doc_id % 4 AS BIGINT) AS version_minor,
        |  CAST(2 + (1 + doc_id % 5)
        |    + CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_objects,
        |  CAST(1 + doc_id % 5 AS BIGINT) AS n_pages,
        |  CAST(1 + doc_id % 5 AS BIGINT) AS pages_count,
        |  doc_id % 6 = 0 AS has_encrypt,
        |  TRUE AS xref_ok
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)),

    // L247 — PDF INFO-DICTIONARY SCRUB: /Author and /Producer strings
    // (the PII slot of exported/scanned PDFs) are minted into a real
    // Info object, detected by the probe, and scrubbed IN PLACE —
    // same-byte-length space fill of the trailer key and the object
    // body, so every xref offset survives without re-serializing;
    // certified per row by a re-probe (only has_info flips) and a
    // length-equality check.
    Q("mm_pdf_info_scrub",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 200)
          .select(col("doc_id")).as[Long]
        val audited = base.map { id =>
          import graft.pipeline.PdfProbe
          val np = (1 + id % 5).toInt
          val bytes = PdfProbe.mintWithInfo((4 + id % 4).toInt, np,
            s"user$id", s"scanner$id")
          val p1 = PdfProbe.probe(bytes)
          val scrubbed = PdfProbe.scrubInfo(bytes)
          val p2 = PdfProbe.probe(scrubbed)
          (id, p1.hasInfo, p2.hasInfo, p1.nPages, p2.nPages,
            p1.xrefOk && p2.xrefOk,
            scrubbed.length == bytes.length)
        }.toDF("doc_id", "has_info", "has_info_scrubbed", "n_pages",
          "n_pages_scrubbed", "xref_ok", "len_preserved")
        audited.orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, TRUE AS has_info, FALSE AS has_info_scrubbed,
        |  CAST(1 + doc_id % 5 AS BIGINT) AS n_pages,
        |  CAST(1 + doc_id % 5 AS BIGINT) AS n_pages_scrubbed,
        |  TRUE AS xref_ok, TRUE AS len_preserved
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // L236 — PDF TEXT EXTRACTION: the `(...) Tj` show-text operators
    // of every page's minted content stream, parsed from raw bytes in
    // document order — even ids are zlib `/Filter /FlateDecode`
    // compressed (the ~universal real-world form, inflated via
    // stdlib java.util.zip), odd ids uncompressed, and a corrupt-
    // deflate tier (ids 200+) must route to the failed path (the S10
    // posture), never return silent partial text. The oracle rebuilds
    // the expected page texts from the mint formulas, so a stream walk
    // that drops, reorders, double-reads a page, or swallows a deflate
    // error cannot hash-match.
    Q("mm_pdf_text",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 220)
          .select(col("doc_id")).as[Long]
        val extracted = base.map { id =>
          import graft.pipeline.PdfProbe
          val np = (1 + id % 3).toInt
          val texts = (0 until np).map(p => s"pg$p of doc $id")
          val bytes = PdfProbe.mintWithText((4 + id % 4).toInt, texts,
            flate = id % 2 == 0 || id >= 200)
          if (id >= 200) {
            // corrupt the first stream's zlib header: the extractor
            // must throw, and the row routes to the failed path
            val at = bytes.indexOfSlice("stream\n".getBytes("US-ASCII")) + 7
            bytes(at) = 0xff.toByte
          }
          val (t, status) =
            try ((PdfProbe.extractText(bytes), "ok"))
            catch { case _: IllegalArgumentException => ("", "failed") }
          (id, np.toLong, t, t.length.toLong, status)
        }.toDF("doc_id", "n_pages", "text", "n_chars", "status")
        extracted.orderBy(col("doc_id"))
      },
      Some("""WITH b AS (SELECT doc_id, 1 + doc_id % 3 AS np
        |  FROM documents WHERE doc_id < 220),
        |t AS (SELECT doc_id, CAST(np AS BIGINT) AS n_pages,
        |    CASE WHEN doc_id < 200 THEN
        |      array_to_string(list_transform(range(0, CAST(np AS INTEGER)),
        |        p -> printf('pg%d of doc %d', p, doc_id)), ' ')
        |      ELSE '' END AS text,
        |    CASE WHEN doc_id < 200 THEN 'ok' ELSE 'failed' END AS status
        |  FROM b)
        |SELECT doc_id, n_pages, text, CAST(len(text) AS BIGINT) AS n_chars,
        |  status
        |FROM t ORDER BY doc_id""".stripMargin)),

    // L221 — streaming audio-metadata probe (L214∘streaming, the L187
    // pattern): tagged WAV/FLAC payloads PROBED AS THEY ARRIVE —
    // byte-level chunk/block walk only, never a sample decode —
    // stateless append, no state store; the tagged payload parquet
    // (real encoder output + spec-valid tag structures) stages once
    // per session. The PII-scan-at-ingest shape: tag fields are read
    // before the corpus commits to disk.
    Q("streaming_audio_meta",
      (s, dir) => QuerySupport.withStreamingPartitions(s) {
        import s.implicits._
        val srcDir = QuerySupport.stagedStreamSource("audio_meta_payloads", s, dir) { p =>
          val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
            .filter(col("event_id") < 240).distinct().as[Long]
          val payloads = ids.map { id =>
            import graft.pipeline.{AudioMeta, FlacAudio, WavAudio}
            val n = (300 + id % 500).toInt
            val sam = Array.tabulate(n)(i =>
              ((id * 13 + i.toLong * 29) % 401 - 200) * 25 / 32767f)
            val nf = (1 + (id / 3) % 3).toInt
            val value = "v%07d".format(id)
            val wavKeys = Vector("INAM", "IART", "ICMT")
            val bytes = (id % 3) match {
              case 0 => AudioMeta.wavWithInfo(WavAudio.encode(8000, sam),
                (0 until nf).map(i => (wavKeys(i), value)))
              case m =>
                val enc = FlacAudio.encode(8000, sam, lpc = m == 2)
                val tag = AudioMeta.flacWithVorbisComment(enc, "graft0",
                  (0 until nf).map(i => (s"K$i", value)))
                if (id % 5 == 0) AudioMeta.flacWithPadding(tag, 64) else tag
            }
            (id, bytes)
          }.toDF("id", "payload")
          QuerySupport.writeHeartbeat(payloads, p, "audio_payloads.parquet")
        }
        val schema = s.read.parquet(srcDir).schema
        val probed = s.readStream.schema(schema).parquet(srcDir)
          .as[(Long, Array[Byte])]
          .map { case (id, bytes) =>
            val m = graft.pipeline.AudioMeta.probeMeta(bytes)
            (id, m.format, m.nFields, m.metaBytes)
          }.toDF("id", "format", "n_fields", "meta_bytes")
        QuerySupport.runToMemory(s, "ameta", "append")(probed)
          .filter(col("id") >= 0).orderBy(col("id"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 240),
        |c AS (SELECT id,
        |    CASE WHEN id % 3 = 0 THEN 'wav' ELSE 'flac' END AS format,
        |    1 + (id // 3) % 3 AS nf,
        |    id % 5 = 0 AND id % 3 <> 0 AS pad
        |  FROM ids)
        |SELECT id, format, CAST(nf AS BIGINT) AS n_fields,
        |  CAST(CASE WHEN format = 'wav' THEN 12 + 18 * nf
        |    ELSE 18 + 15 * nf + CASE WHEN pad THEN 68 ELSE 0 END END
        |    AS BIGINT) AS meta_bytes
        |FROM c ORDER BY id""".stripMargin)),

    // L250 — streaming PDF structural probe (L235∘streaming, the L187
    // posture on documents): minted spec-valid PDFs probed as they
    // arrive — version/pages//Encrypt/xref agreement from raw bytes,
    // stateless append, no state store; the payload parquet stages
    // once per session. The route-before-extract gate live at ingest.
    Q("streaming_pdf_probe",
      (s, dir) => QuerySupport.withStreamingPartitions(s) {
        import s.implicits._
        val srcDir = QuerySupport.stagedStreamSource("pdf_payloads", s, dir) { p =>
          val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
            .select(col("doc_id")).as[Long]
          val payloads = base.map { id =>
            (id, graft.pipeline.PdfProbe.mint((4 + id % 4).toInt,
              (1 + id % 5).toInt, encrypt = id % 6 == 0))
          }.toDF("doc_id", "payload")
          QuerySupport.writeHeartbeat(payloads, p, "pdf_payloads.parquet")
        }
        val schema = s.read.parquet(srcDir).schema
        val probed = s.readStream.schema(schema).parquet(srcDir)
          .as[(Long, Array[Byte])]
          .map { case (id, bytes) =>
            val p = graft.pipeline.PdfProbe.probe(bytes)
            (id, p.versionMinor, p.nPages, p.hasEncrypt, p.xrefOk)
          }.toDF("doc_id", "version_minor", "n_pages", "has_encrypt",
            "xref_ok")
        QuerySupport.runToMemory(s, "pdf", "append")(probed)
          .filter(col("doc_id") >= 0).orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  CAST(4 + doc_id % 4 AS BIGINT) AS version_minor,
        |  CAST(1 + doc_id % 5 AS BIGINT) AS n_pages,
        |  doc_id % 6 = 0 AS has_encrypt, TRUE AS xref_ok
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)),

    // L254 — WARC container walk (ISO 28500, the Common-Crawl front
    // door): spec-valid multi-record files minted per doc — even ids
    // in the per-record-gzip-member layout Common Crawl actually ships
    // (each record its own RFC 1952 member, integrity-verified by
    // hand-walked CRC32/ISIZE — GZIPInputStream would silently drop
    // records after a corrupt boundary) — then parsed back record by
    // record with exact Content-Length framing. The oracle re-derives
    // every field from the mint formulas, so a walk that drops,
    // merges, or mis-frames a record cannot hash-match.
    Q("mm_warc_records",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 240)
          .select(col("doc_id")).as[Long]
        val recs = base.flatMap { id =>
          import graft.pipeline.WarcIO
          val n = (1 + id % 3).toInt
          val types = Vector("response", "request", "metadata")
          val records = (0 until n).map { j =>
            WarcIO.WarcRecord(types(j),
              s"http://site${id % 7}.example.com/page$id/$j",
              "2025-01-01T00:00:00Z", s"<urn:uuid:$id-$j>", "text/plain",
              ("x" * (10 + ((id + j) % 30)).toInt).getBytes("US-ASCII"))
          }
          val bytes = WarcIO.mint(records, perRecordGzip = id % 2 == 0)
          WarcIO.parse(bytes).zipWithIndex.map { case (r, j) =>
            (id, j.toLong, r.warcType, r.targetUri,
              r.payload.length.toLong, id % 2 == 0, n.toLong)
          }
        }.toDF("doc_id", "rec_index", "warc_type", "target_uri",
          "content_length", "gzipped", "n_records")
        recs.orderBy(col("doc_id"), col("rec_index"))
      },
      Some("""WITH b AS (SELECT doc_id, 1 + doc_id % 3 AS n
        |  FROM documents WHERE doc_id < 240),
        |r AS (SELECT doc_id, n,
        |    unnest(range(0, CAST(n AS INTEGER))) AS j FROM b)
        |SELECT doc_id, CAST(j AS BIGINT) AS rec_index,
        |  CASE j WHEN 0 THEN 'response' WHEN 1 THEN 'request'
        |    ELSE 'metadata' END AS warc_type,
        |  'http://site' || (doc_id % 7) || '.example.com/page' || doc_id
        |    || '/' || j AS target_uri,
        |  CAST(10 + (doc_id + j) % 30 AS BIGINT) AS content_length,
        |  doc_id % 2 = 0 AS gzipped,
        |  CAST(n AS BIGINT) AS n_records
        |FROM r ORDER BY doc_id, rec_index""".stripMargin)),

    // L262 — CHARSET SNIFF + STRICT DECODE (the byte→text step between
    // the L254 WARC/HTTP envelope and L256 HTML extraction): WHATWG
    // precedence (BOM > Content-Type header > meta prescan > UTF-8),
    // then a REPORT-mode decode that throws on malformed bytes instead
    // of minting U+FFFD — variant 3 mis-declares windows-1252 bytes as
    // UTF-8 and must route to the mojibake path, never emit corrupted
    // text. Decoded pages flow through the real HTML extractor; the
    // oracle rebuilds the expected text (euro + accents by codepoint)
    // from the mint formulas.
    Q("mm_charset_decode",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 400)
          .select(col("doc_id")).as[Long]
        val decoded = base.map { id =>
          import graft.pipeline.{CharsetSniff, HtmlText}
          val v = (id % 4).toInt
          val text =
            if (v == 2) s"caf\u00e9 na\u00efve $id"
            else s"price \u20ac9 caf\u00e9 $id"
          val (html, header, enc) = v match {
            case 0 => (s"<html><head><meta charset=utf-8></head>" +
              s"<body><p>$text</p></body></html>", None, "utf-8")
            case 1 => (s"<html><body><p>$text</p></body></html>",
              Some("text/html; charset=windows-1252"), "windows-1252")
            case 2 => ("<html><head><meta http-equiv=\"Content-Type\" " +
              "content=\"text/html; charset=ISO-8859-1\"></head>" +
              s"<body><p>$text</p></body></html>", None, "iso-8859-1")
            case _ => (s"<html><body><p>$text</p></body></html>",
              Some("text/html; charset=utf-8"), "windows-1252")
          }
          val bytes = CharsetSniff.encodeStrict(html, enc)
          val (cs, source) = CharsetSniff.sniff(header, bytes)
          val (ok, out) =
            try ((true, HtmlText.toText(CharsetSniff.decodeStrict(bytes, cs))))
            catch { case _: IllegalArgumentException => ((false, "")) }
          (id, cs, source, ok, out, out.length.toLong)
        }.toDF("doc_id", "charset", "source", "decode_ok", "text_out",
          "n_chars")
        decoded.orderBy(col("doc_id"))
      },
      Some("""WITH b AS (SELECT doc_id, doc_id % 4 AS v
        |  FROM documents WHERE doc_id < 400),
        |t AS (SELECT doc_id, v,
        |    CASE v WHEN 0 THEN 'utf-8' WHEN 1 THEN 'windows-1252'
        |      WHEN 2 THEN 'iso-8859-1' ELSE 'utf-8' END AS charset,
        |    CASE WHEN v IN (1, 3) THEN 'header' ELSE 'meta' END AS source,
        |    v <> 3 AS decode_ok,
        |    CASE WHEN v = 2
        |        THEN 'caf' || chr(233) || ' na' || chr(239) || 've ' || doc_id
        |      WHEN v = 3 THEN ''
        |      ELSE 'price ' || chr(8364) || '9 caf' || chr(233) || ' '
        |        || doc_id END AS text_out
        |  FROM b)
        |SELECT doc_id, charset, source, decode_ok, text_out,
        |  CAST(len(text_out) AS BIGINT) AS n_chars
        |FROM t ORDER BY doc_id""".stripMargin)),

    // L268 — magic-byte FORMAT ROUTER: real encoder output from every
    // minter in the repo (PNG/JPEG/GIF/BMP, WAV/FLAC, PDF, WARC plain
    // and per-record-gzipped) plus a deterministic no-magic blob, each
    // routed by content alone — the dispatch a 100 TB crawl needs for
    // extension-less and mis-labeled payloads (S1 routes what the path
    // claims; this routes what the bytes ARE). Container-first:
    // warc.gz reports gzip. The oracle replays the kind formula.
    Q("mm_format_sniff",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
        val sniffed = base.map { id =>
          import graft.pipeline._
          val argb = Array.tabulate(16)(i =>
            0xff000000 | (((id.toInt + i) * 1001) & 0xffffff))
          val sam = Array.tabulate(64)(i =>
            ((id * 7 + i * 29) % 401 - 200) / 400f)
          def warcBytes(gz: Boolean) = WarcIO.mint(Seq(WarcIO.WarcRecord(
            "resource", s"http://x/$id", "2025-01-01T00:00:00Z",
            s"<urn:uuid:$id>", "text/plain",
            s"payload $id".getBytes("US-ASCII"))), gz)
          val kind = (id % 10).toInt
          val bytes = kind match {
            case 0 => ImageCodec.encodePng(4, 4, argb)
            case 1 => ImageCodec.encodeJpeg(4, 4, argb)
            case 2 => ImageCodec.encodeGif(4, 4, argb)
            case 3 => ImageCodec.encodeBmp(4, 4, argb)
            case 4 => WavAudio.encode(8000, sam)
            case 5 => FlacAudio.encode(8000, sam)
            case 6 => PdfProbe.mint(5, 1, encrypt = false)
            case 7 => warcBytes(false)
            case 8 => warcBytes(true)
            case _ => Array.tabulate(16)(i => ((id + i) % 251).toByte)
          }
          val minted = Vector("png", "jpeg", "gif", "bmp", "wav", "flac",
            "pdf", "warc", "gzip", "unknown")(kind)
          val got = FormatSniff.sniff(bytes)
          (id, minted, got, got == minted)
        }.toDF("doc_id", "minted", "sniffed", "routed_ok")
        sniffed.orderBy(col("doc_id"))
      },
      Some("""WITH k AS (SELECT doc_id,
        |    CASE doc_id % 10 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |      WHEN 2 THEN 'gif' WHEN 3 THEN 'bmp' WHEN 4 THEN 'wav'
        |      WHEN 5 THEN 'flac' WHEN 6 THEN 'pdf' WHEN 7 THEN 'warc'
        |      WHEN 8 THEN 'gzip' ELSE 'unknown' END AS minted
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id, minted, minted AS sniffed, TRUE AS routed_ok
        |FROM k ORDER BY doc_id""".stripMargin)),

    // L271 — HTTP TRANSFER/CONTENT CODINGS: real crawl payloads arrive
    // chunked (RFC 9112 §7.1 framing) and/or gzip-coded (RFC 9110
    // Content-Encoding), and both must undo IN ORDER (transfer coding
    // is message framing, content coding is the representation) before
    // any byte of the entity is trusted. Variants: identity, chunked,
    // gzip, chunked∘gzip; a corrupt tier (id%19) breaks the chunk-size
    // line and must route loudly — a mis-framed chunk silently
    // concatenated is corrupted training text. The oracle replays the
    // body formula.
    Q("mm_http_codings",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 400)
          .select(col("doc_id")).as[Long]
        val decoded = base.map { id =>
          import graft.pipeline.WarcIO
          val body = s"payload of doc $id " + "x" * (id % 23).toInt
          val bytes = body.getBytes("US-ASCII")
          def chunk(b: Array[Byte]) = WarcIO.mintChunked(b, Seq(7, b.length - 7))
          val (coding, payload, headers) =
            if (id % 19 == 0) {
              val c = chunk(bytes)
              (("chunked",
                ("zz" + new String(c, "ISO-8859-1").drop(1))
                  .getBytes("ISO-8859-1"),
                Seq("Transfer-Encoding" -> "chunked")))
            } else (id % 4) match {
              case 0 => (("identity", bytes, Seq.empty[(String, String)]))
              case 1 => (("chunked", chunk(bytes),
                Seq("Transfer-Encoding" -> "chunked")))
              case 2 => (("gzip", WarcIO.gzipBytes(bytes),
                Seq("Content-Encoding" -> "gzip")))
              case _ =>
                val gz = WarcIO.gzipBytes(bytes)
                (("chunked+gzip", chunk(gz),
                  Seq("Transfer-Encoding" -> "chunked",
                    "Content-Encoding" -> "gzip")))
            }
          val h = WarcIO.parseHttpResponse(
            WarcIO.mintHttpResponse(200, headers, payload))
          val (ok, text) =
            try ((true, new String(WarcIO.decodedBody(h), "US-ASCII")))
            catch { case _: IllegalArgumentException => ((false, "")) }
          (id, coding, ok, text, text.length.toLong)
        }.toDF("doc_id", "coding", "decode_ok", "body_text", "n_bytes")
        decoded.orderBy(col("doc_id"))
      },
      Some("""WITH b AS (SELECT doc_id,
        |    'payload of doc ' || doc_id || ' ' ||
        |      repeat('x', CAST(doc_id % 23 AS INTEGER)) AS body
        |  FROM documents WHERE doc_id < 400),
        |t AS (SELECT doc_id,
        |    CASE WHEN doc_id % 19 = 0 THEN 'chunked'
        |      WHEN doc_id % 4 = 0 THEN 'identity'
        |      WHEN doc_id % 4 = 1 THEN 'chunked'
        |      WHEN doc_id % 4 = 2 THEN 'gzip'
        |      ELSE 'chunked+gzip' END AS coding,
        |    doc_id % 19 <> 0 AS decode_ok,
        |    CASE WHEN doc_id % 19 = 0 THEN '' ELSE body END AS body_text
        |  FROM b)
        |SELECT doc_id, coding, decode_ok, body_text,
        |  CAST(len(body_text) AS BIGINT) AS n_bytes
        |FROM t ORDER BY doc_id""".stripMargin)),

    // L255 — streaming WARC ingest (L254∘streaming, the L187/L250
    // posture): multi-record WARC files parsed AS THEY ARRIVE — the
    // container walk is a stateless per-file flatMap (one file → its
    // records), no state store; the payload parquet (real minted WARC
    // bytes, half per-record-gzipped) stages once per session. This is
    // the live crawl-firehose shape: record boundaries and framing
    // validated before anything downstream commits.
    Q("streaming_warc_ingest",
      (s, dir) => QuerySupport.withStreamingPartitions(s) {
        import s.implicits._
        val srcDir = QuerySupport.stagedStreamSource("warc_payloads", s, dir) { p =>
          val base = Tables.documents(s, dir).filter(col("doc_id") < 240)
            .select(col("doc_id")).as[Long]
          val payloads = base.map { id =>
            import graft.pipeline.WarcIO
            val n = (1 + id % 3).toInt
            val types = Vector("response", "request", "metadata")
            val records = (0 until n).map { j =>
              WarcIO.WarcRecord(types(j),
                s"http://site${id % 7}.example.com/page$id/$j",
                "2025-01-01T00:00:00Z", s"<urn:uuid:$id-$j>", "text/plain",
                ("x" * (10 + ((id + j) % 30)).toInt).getBytes("US-ASCII"))
            }
            (id, WarcIO.mint(records, perRecordGzip = id % 2 == 0))
          }.toDF("doc_id", "payload")
          QuerySupport.writeHeartbeat(payloads, p, "warc_payloads.parquet")
        }
        val schema = s.read.parquet(srcDir).schema
        val parsed = s.readStream.schema(schema).parquet(srcDir)
          .as[(Long, Array[Byte])]
          .flatMap { case (id, bytes) =>
            graft.pipeline.WarcIO.parse(bytes).zipWithIndex.map {
              case (r, j) =>
                (id, j.toLong, r.warcType, r.payload.length.toLong)
            }
          }.toDF("doc_id", "rec_index", "warc_type", "content_length")
        QuerySupport.runToMemory(s, "warc", "append")(parsed).filter(col("doc_id") >= 0)
          .orderBy(col("doc_id"), col("rec_index"))
      },
      Some("""WITH b AS (SELECT doc_id, 1 + doc_id % 3 AS n
        |  FROM documents WHERE doc_id < 240),
        |r AS (SELECT doc_id, n,
        |    unnest(range(0, CAST(n AS INTEGER))) AS j FROM b)
        |SELECT doc_id, CAST(j AS BIGINT) AS rec_index,
        |  CASE j WHEN 0 THEN 'response' WHEN 1 THEN 'request'
        |    ELSE 'metadata' END AS warc_type,
        |  CAST(10 + (doc_id + j) % 30 AS BIGINT) AS content_length
        |FROM r ORDER BY doc_id, rec_index""".stripMargin)),

    // L278 — WET CONVERSION RECORDS (the WARC → WET step Common Crawl
    // publishes and the text pipelines actually consume): per doc a
    // response record is minted, parsed, its HTML extracted through
    // the real pipeline, and re-emitted as an ISO 28500 `conversion`
    // record carrying WARC-Refers-To (§6.8) — then the minted WET file
    // is re-walked and certified: type, refers-to linkage, and the
    // text payload must round-trip byte-exactly (UTF-8). Exercises the
    // writer+reader on a second record type and the extra-header
    // surface. The oracle re-derives the text from the mint formulas.
    Q("mm_wet_convert",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id"), col("text")).as[(Long, String)]
        val converted = base.map { case (id, text) =>
          import graft.pipeline.{HtmlText, WarcIO}
          val html = s"<html><head><title>Doc $id</title></head>" +
            s"<body><h1>Title &amp; $id</h1>" +
            s"<p>${HtmlText.escape(text)}</p></body></html>"
          val resp = WarcIO.WarcRecord("response",
            s"http://site${id % 7}.example.com/p$id",
            "2025-01-01T00:00:00Z", s"<urn:uuid:resp-$id>",
            "application/http; msgtype=response",
            WarcIO.mintHttpResponse(200,
              Seq("Content-Type" -> "text/html"), html.getBytes("UTF-8")))
          val parsed = WarcIO.parse(
            WarcIO.mint(Seq(resp), perRecordGzip = id % 2 == 0)).head
          val http = WarcIO.parseHttpResponse(parsed.payload)
          val wetText = HtmlText.toText(new String(http.body, "UTF-8"))
          val conv = WarcIO.WarcRecord("conversion", parsed.targetUri,
            parsed.date, s"<urn:uuid:conv-$id>", "text/plain",
            wetText.getBytes("UTF-8"),
            extra = Seq("WARC-Refers-To" -> parsed.recordId))
          val back = WarcIO.parse(
            WarcIO.mint(Seq(conv), perRecordGzip = id % 2 == 1)).head
          val refersOk = back.warcType == "conversion" &&
            back.extra.toMap.get("warc-refers-to")
              .contains(s"<urn:uuid:resp-$id>") &&
            back.targetUri == parsed.targetUri
          val textBack = new String(back.payload, "UTF-8")
          (id, textBack, back.payload.length.toLong, refersOk,
            textBack == wetText)
        }.toDF("doc_id", "wet_text", "n_bytes", "refers_ok", "text_ok")
        converted.orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
        |    'Doc ' || doc_id || chr(10) || 'Title & ' || doc_id ||
        |      chr(10) || trim(regexp_replace(text, '\s+', ' ', 'g'))
        |      AS wet
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id, wet AS wet_text,
        |  CAST(octet_length(encode(wet)) AS BIGINT) AS n_bytes,
        |  TRUE AS refers_ok, TRUE AS text_ok
        |FROM t ORDER BY doc_id""".stripMargin)),

    // L279 — STREAMING FORMAT ROUTER (L268∘streaming): the magic-byte
    // dispatch live at the firehose — arriving extension-less blobs
    // (real encoder output from five repo minters plus a no-magic
    // blob) route by content in a stateless map, no state store; the
    // payload parquet stages once per session. At 100 TB this is the
    // first operator every crawled byte meets.
    Q("streaming_format_sniff",
      (s, dir) => QuerySupport.withStreamingPartitions(s) {
        import s.implicits._
        val srcDir = QuerySupport.stagedStreamSource("fmt_payloads", s, dir) { p =>
          val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
            .select(col("doc_id")).as[Long]
          val payloads = base.map { id =>
            import graft.pipeline._
            val argb = Array.tabulate(16)(i =>
              0xff000000 | (((id.toInt + i) * 1001) & 0xffffff))
            val sam = Array.tabulate(64)(i =>
              ((id * 7 + i * 29) % 401 - 200) / 400f)
            val bytes = (id % 6).toInt match {
              case 0 => ImageCodec.encodePng(4, 4, argb)
              case 1 => ImageCodec.encodeGif(4, 4, argb)
              case 2 => WavAudio.encode(8000, sam)
              case 3 => FlacAudio.encode(8000, sam)
              case 4 => PdfProbe.mint(5, 1, encrypt = false)
              case _ => Array.tabulate(16)(i => ((id + i) % 251).toByte)
            }
            (id, bytes)
          }.toDF("doc_id", "payload")
          QuerySupport.writeHeartbeat(payloads, p, "fmt_payloads.parquet")
        }
        val schema = s.read.parquet(srcDir).schema
        val sniffed = s.readStream.schema(schema).parquet(srcDir)
          .as[(Long, Array[Byte])]
          .map { case (id, bytes) =>
            (id, graft.pipeline.FormatSniff.sniff(bytes))
          }.toDF("doc_id", "sniffed")
        QuerySupport.runToMemory(s, "fmt", "append")(sniffed)
          .filter(col("doc_id") >= 0).orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |    WHEN 2 THEN 'wav' WHEN 3 THEN 'flac' WHEN 4 THEN 'pdf'
        |    ELSE 'unknown' END AS sniffed
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)),

    // L290 — SRT SUBTITLE PARSE: the sidecar format caption/transcript
    // corpora ship in — cue index, HH:MM:SS,mmm time line, multi-line
    // text — decoded to exact microseconds through the real grammar
    // after a mint round-trip (format → parse must be the identity on
    // spec-valid cues; the parser's milliseconds→micros scaling and
    // the formatter's field split cross-check each other). Multi-line
    // cue text surfaces with a `|` separator. The oracle replays the
    // cue formulas.
    Q("mm_srt_parse",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
        val cues = base.flatMap { id =>
          import graft.pipeline.Subtitles
          val n = (1 + id % 4).toInt
          val minted = (0 until n).map { j =>
            val startMs = id * 97 + j * 3000
            val durMs = 500 + (id + j) % 2500
            val text =
              if (j % 2 == 0) s"line $id $j\ncont $j" else s"line $id $j"
            Subtitles.Cue(j + 1, startMs * 1000,
              (startMs + durMs) * 1000, text)
          }
          val parsed = Subtitles.parseSrt(Subtitles.mintSrt(minted))
          require(parsed == minted, "SRT round-trip mismatch")
          parsed.map(c => (id, c.index.toLong, c.startUs, c.endUs,
            c.text.replace("\n", "|")))
        }.toDF("doc_id", "idx", "start_us", "end_us", "text")
        cues.orderBy(col("doc_id"), col("idx"))
      },
      Some("""WITH c AS (SELECT doc_id,
        |    unnest(range(0, 1 + doc_id % 4)) AS j
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id, CAST(j + 1 AS BIGINT) AS idx,
        |  CAST((doc_id * 97 + j * 3000) * 1000 AS BIGINT) AS start_us,
        |  CAST((doc_id * 97 + j * 3000 + 500 + (doc_id + j) % 2500)
        |    * 1000 AS BIGINT) AS end_us,
        |  CASE WHEN j % 2 = 0
        |    THEN 'line ' || doc_id || ' ' || j || '|cont ' || j
        |    ELSE 'line ' || doc_id || ' ' || j END AS text
        |FROM c ORDER BY doc_id, idx""".stripMargin)),

    // L293 — WEBVTT SUBTITLE PARSE (the SRT sibling the open web
    // serves): DOT milliseconds, mandatory WEBVTT header, OPTIONAL
    // cue-identifier lines and cue settings (both exercised by the
    // mint variants and dropped by the parser per spec), optional
    // hours. Round-trip identity certified per row; the oracle
    // replays the cue formulas.
    Q("mm_vtt_parse",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
        val cues = base.flatMap { id =>
          import graft.pipeline.Subtitles
          val n = (1 + id % 3).toInt
          val minted = (0 until n).map { j =>
            val startMs = id * 53 + j * 4000
            val durMs = 700 + (id + j) % 2000
            Subtitles.Cue(j + 1, startMs * 1000,
              (startMs + durMs) * 1000, s"vtt $id $j")
          }
          val parsed = Subtitles.parseVtt(Subtitles.mintVtt(minted))
          require(parsed == minted, "WebVTT round-trip mismatch")
          parsed.map(c => (id, c.index.toLong, c.startUs, c.endUs, c.text))
        }.toDF("doc_id", "idx", "start_us", "end_us", "text")
        cues.orderBy(col("doc_id"), col("idx"))
      },
      Some("""WITH c AS (SELECT doc_id,
        |    unnest(range(0, 1 + doc_id % 3)) AS j
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id, CAST(j + 1 AS BIGINT) AS idx,
        |  CAST((doc_id * 53 + j * 4000) * 1000 AS BIGINT) AS start_us,
        |  CAST((doc_id * 53 + j * 4000 + 700 + (doc_id + j) % 2000)
        |    * 1000 AS BIGINT) AS end_us,
        |  'vtt ' || doc_id || ' ' || j AS text
        |FROM c ORDER BY doc_id, idx""".stripMargin)),

    // L294 — STREAMING SRT GATE (L290 at ingest): arriving subtitle
    // sidecars parse statelessly at the firehose — a corrupt tier
    // (id%23: the arrow is broken) routes to failed rows instead of
    // poisoning downstream alignment, the S10 posture live. No state
    // store; payloads stage once per session.
    Q("streaming_srt_gate",
      (s, dir) => QuerySupport.withStreamingPartitions(s) {
        import s.implicits._
        val srcDir = QuerySupport.stagedStreamSource("srt_payloads", s, dir) { p =>
          val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
            .select(col("doc_id")).as[Long]
          val payloads = base.map { id =>
            import graft.pipeline.Subtitles
            val n = (1 + id % 4).toInt
            val minted = (0 until n).map { j =>
              val startMs = id * 97 + j * 3000
              val durMs = 500 + (id + j) % 2500
              Subtitles.Cue(j + 1, startMs * 1000,
                (startMs + durMs) * 1000, s"line $id $j")
            }
            val srt = Subtitles.mintSrt(minted)
            (id, if (id % 23 == 0) srt.replace(" --> ", " XX ") else srt)
          }.toDF("doc_id", "payload")
          QuerySupport.writeHeartbeat(payloads, p, "srt_payloads.parquet")
        }
        val schema = s.read.parquet(srcDir).schema
        val gated = s.readStream.schema(schema).parquet(srcDir)
          .as[(Long, String)]
          .map { case (id, srt) =>
            try {
              val cues = graft.pipeline.Subtitles.parseSrt(srt)
              (id, true, cues.size.toLong,
                cues.map(c => c.endUs - c.startUs).sum)
            } catch {
              case _: IllegalArgumentException => (id, false, -1L, -1L)
            }
          }.toDF("doc_id", "decode_ok", "n_cues", "dur_us")
        QuerySupport.runToMemory(s, "srt", "append")(gated)
          .filter(col("doc_id") >= 0).orderBy(col("doc_id"))
      },
      Some("""WITH c AS (SELECT doc_id,
        |    unnest(range(0, 1 + doc_id % 4)) AS j
        |  FROM documents WHERE doc_id < 300),
        |d AS (SELECT doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM((500 + (doc_id + j) % 2500) * 1000) AS BIGINT) AS dur
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, doc_id % 23 <> 0 AS decode_ok,
        |  CASE WHEN doc_id % 23 = 0 THEN -1 ELSE n END AS n_cues,
        |  CASE WHEN doc_id % 23 = 0 THEN -1 ELSE dur END AS dur_us
        |FROM d ORDER BY doc_id""".stripMargin)),

    // L297 — ID3v2 TAG PROBE + PRIVACY STRIP: the MP3-side sibling of
    // the WAV RIFF-INFO / FLAC VORBIS_COMMENT walk (L214) — the tag
    // most wild MP3s carry, holding title/artist PII the pipeline
    // must see for provenance and STRIP before corpus entry. Even ids
    // mint ID3v2.4 (SYNCSAFE frame sizes), odd ids v2.3 (plain BE) —
    // both size grammars live; strip is certified byte-exact against
    // the planted audio payload. The oracle re-derives the tag size
    // from the frame-length arithmetic.
    Q("mm_id3_probe",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
        val probed = base.map { id =>
          import graft.pipeline.Id3
          val ver = if (id % 2 == 0) 4 else 3
          val frames = Seq("TIT2" -> s"Title $id",
            "TPE1" -> s"Artist ${id % 5}") ++
            (if (id % 3 == 0) Seq("TALB" -> s"Album ${id % 3}") else Nil)
          val audio = s"AUDIO$id".getBytes("US-ASCII")
          val bytes = Id3.mint(ver, frames, (id % 7).toInt * 3, audio)
          val tag = Id3.probe(bytes)
          val title = tag.frames.find(_.id == "TIT2").flatMap(_.text)
          val artist = tag.frames.find(_.id == "TPE1").flatMap(_.text)
          val stripped = Id3.strip(bytes)
          (id, tag.versionMajor.toLong, tag.size.toLong,
            tag.frames.size.toLong, title.orNull, artist.orNull,
            java.util.Arrays.equals(stripped, audio))
        }.toDF("doc_id", "version", "tag_size", "n_frames", "title",
          "artist", "strip_ok")
        probed.orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS BIGINT)
        |    AS version,
        |  CAST(10 + (11 + 6 + len(CAST(doc_id AS VARCHAR)))
        |    + (11 + 8)
        |    + (CASE WHEN doc_id % 3 = 0 THEN 11 + 7 ELSE 0 END)
        |    + (doc_id % 7) * 3 AS BIGINT) AS tag_size,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS BIGINT)
        |    AS n_frames,
        |  'Title ' || doc_id AS title,
        |  'Artist ' || (doc_id % 5) AS artist,
        |  TRUE AS strip_ok
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)),

    // L306 — TAR CONTAINER WALK (pipeline/Containers.walkTar): corpora
    // ship as tarballs (WebDataset shards); the walk validates the
    // ustar magic + header checksum of every entry and yields the
    // catalog with payload offsets for lazy slicing — never the
    // payloads themselves. Mint round-trip certified per row; the
    // oracle replays the 512-block offset ledger arithmetically.
    Q("mm_tar_walk",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
        val rows = base.flatMap { id =>
          import graft.pipeline.Containers
          val n = (1 + id % 3).toInt
          val entries = (0 until n).map { j =>
            val size = ((id + 31 * j) % 400).toInt
            (s"d$id/f$j.txt", 1700000000L + id,
              Array.fill[Byte](size)('x'.toByte))
          }
          val walked = Containers.walkTar(Containers.mintTar(entries))
          require(walked.map(_.name) == entries.map(_._1) &&
            walked.map(_.size) == entries.map(_._3.length.toLong),
            "tar round-trip mismatch")
          walked.zipWithIndex.map { case (e, j) =>
            (id, j.toLong, e.name, e.size, e.dataOffset)
          }
        }.toDF("doc_id", "idx", "name", "size", "data_offset")
        rows.orderBy(col("doc_id"), col("idx"))
      },
      Some("""WITH c AS (SELECT doc_id,
        |    unnest(range(0, 1 + doc_id % 3)) AS j
        |  FROM documents WHERE doc_id < 300),
        |sz AS (SELECT doc_id, j, (doc_id + 31 * j) % 400 AS size FROM c),
        |o AS (SELECT doc_id, j, size,
        |    512 * (j + 1) + 512 * COALESCE(SUM(CASE WHEN size > 0
        |        THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY j
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS data_offset
        |  FROM sz)
        |SELECT doc_id, CAST(j AS BIGINT) AS idx,
        |  'd' || doc_id || '/f' || j || '.txt' AS name,
        |  CAST(size AS BIGINT) AS size,
        |  CAST(data_offset AS BIGINT) AS data_offset
        |FROM o ORDER BY doc_id, idx""".stripMargin)),

    // L307 — ZIP CENTRAL-DIRECTORY WALK + CERTIFIED ENTRY DECODE
    // (Containers.walkZip/readZipEntry): the catalog read touches no
    // payloads; the decode tier inflates method-8 data and certifies
    // the directory CRC-32 — both proven here by emitting the decoded
    // TEXT back out (stored and deflated entries per container). The
    // oracle rebuilds payloads with repeat().
    Q("mm_zip_walk",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
        val rows = base.flatMap { id =>
          import graft.pipeline.Containers
          val payloads = Seq(
            ("a.txt", ("stored " + id + " ") * (1 + id % 3).toInt, false),
            ("b.txt", ("deflate " + id + " ") * (1 + id % 4).toInt, true))
          val zip = Containers.mintZip(payloads.map { case (n, t, d) =>
            (n, t.getBytes("UTF-8"), d) })
          val walked = Containers.walkZip(zip)
          walked.zip(payloads).zipWithIndex.map { case ((e, (_, t, _)), j) =>
            val text = new String(Containers.readZipEntry(zip, e), "UTF-8")
            require(text == t, "zip payload round-trip mismatch")
            (id, j.toLong, e.name, e.method.toLong, e.uncompSize, text)
          }
        }.toDF("doc_id", "idx", "name", "method", "uncomp_size", "text")
        rows.orderBy(col("doc_id"), col("idx"))
      },
      Some("""WITH c AS (SELECT doc_id, unnest(range(0, 2)) AS j
        |  FROM documents WHERE doc_id < 300),
        |p AS (SELECT doc_id, j,
        |    CASE WHEN j = 0 THEN 'a.txt' ELSE 'b.txt' END AS name,
        |    CAST(CASE WHEN j = 0 THEN 0 ELSE 8 END AS BIGINT) AS method,
        |    CASE WHEN j = 0
        |      THEN repeat('stored ' || doc_id || ' ',
        |        CAST(1 + doc_id % 3 AS INTEGER))
        |      ELSE repeat('deflate ' || doc_id || ' ',
        |        CAST(1 + doc_id % 4 AS INTEGER)) END AS text
        |  FROM c)
        |SELECT doc_id, CAST(j AS BIGINT) AS idx, name, method,
        |  CAST(length(text) AS BIGINT) AS uncomp_size, text
        |FROM p ORDER BY doc_id, idx""".stripMargin)),

    // L308 — DOCX TEXT EXTRACTION (Containers.docxText): the office-
    // document front door — a DOCX is a ZIP of WordprocessingML parts;
    // text is the concatenation of <w:t> runs with paragraph breaks,
    // XML entities decoded (the fixture's <, >, & round-trip through
    // the escape/decode pair). Both compression methods exercised by
    // parity; the oracle rebuilds the paragraph text.
    Q("mm_docx_text",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
        val rows = base.map { id =>
          import graft.pipeline.Containers
          val paras = (0 until (1 + id % 3).toInt)
            .map(j => s"docx <$id> & p$j")
          val text = Containers.docxText(
            Containers.mintDocx(paras, deflate = id % 2 == 0))
          (id, paras.size.toLong, text)
        }.toDF("doc_id", "n_paras", "text")
        rows.orderBy(col("doc_id"))
      },
      Some("""WITH c AS (SELECT doc_id,
        |    unnest(range(0, 1 + doc_id % 3)) AS j
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
        |  string_agg('docx <' || doc_id || '> & p' || j, chr(10)
        |    ORDER BY j) AS text
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // L309 — TIFF HEADER PROBE + GPS PRIVACY STRIP (pipeline/
    // TiffProbe): IFD tag walk in both byte orders (dims, bit depth,
    // orientation, EXIF/GPS pointers), then the scrub drops the GPS
    // IFD pointer in place — the location leak a training corpus must
    // not carry — and the probe re-certifies. Oracle replays the tag
    // arithmetic.
    Q("mm_tiff_probe",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
        val rows = base.map { id =>
          import graft.pipeline.TiffProbe
          val bps = Seq(1L, 8L, 16L)((id % 3).toInt)
          val t = TiffProbe.mint(100L + id % 1600, 80L + id % 900, bps,
            1L + id % 8, withExif = id % 2 == 0, withGps = id % 3 == 0,
            bigEndian = id % 2 == 1)
          val p = TiffProbe.probe(t)
          val after = TiffProbe.probe(TiffProbe.stripGps(t))
          require(!after.hasGps && after.width == p.width,
            "tiff GPS strip broke the probe")
          (id, if (p.bigEndian) "MM" else "II", p.width, p.height,
            p.bitsPerSample, p.orientation, p.nTags, p.hasGps,
            p.hasExif, after.nTags)
        }.toDF("doc_id", "byte_order", "width", "height", "bits",
          "orientation", "n_tags", "has_gps", "has_exif", "n_tags_after")
        rows.orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS byte_order,
        |  CAST(100 + doc_id % 1600 AS BIGINT) AS width,
        |  CAST(80 + doc_id % 900 AS BIGINT) AS height,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 8 ELSE 16 END
        |    AS BIGINT) AS bits,
        |  CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
        |  CAST(4 + (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_tags,
        |  doc_id % 3 = 0 AS has_gps,
        |  doc_id % 2 = 0 AS has_exif,
        |  CAST(4 + (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_tags_after
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)),

    // L310 — MP4 VIDEO-TRACK PROBE (pipeline/Mp4Probe): ISO-BMFF box
    // walk to the per-track catalog — handler kind, media timescale/
    // duration, 16.16 pixel dimensions — the container certification a
    // video corpus runs before any codec work. Whole seconds are the
    // scale-free check (duration div timescale); oracle replays both
    // tracks per document.
    Q("mm_mp4_video_probe",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
        val rows = base.flatMap { id =>
          import graft.pipeline.Mp4Probe
          val secs = 10L + id % 50
          val w = Seq(640L, 1280L, 1920L)((id % 3).toInt)
          val h = Seq(360L, 720L, 1080L)((id % 3).toInt)
          val tracks = Seq(
            Mp4Probe.TrackInfo(1L, "vide", 30000L, 30000L * secs, w, h),
            Mp4Probe.TrackInfo(2L, "soun", 48000L, 48000L * secs, 0L, 0L))
          val p = Mp4Probe.probe(
            Mp4Probe.mint("isom", 1000L, 1000L * secs, tracks))
          require(p.tracks == tracks && p.brand == "isom",
            "mp4 probe round-trip mismatch")
          p.tracks.map(t => (id, t.trackId, t.handler, t.timescale,
            t.duration, t.width, t.height, t.duration / t.timescale))
        }.toDF("doc_id", "track_id", "handler", "timescale", "duration",
          "width", "height", "dur_s")
        rows.orderBy(col("doc_id"), col("track_id"))
      },
      Some("""WITH c AS (SELECT doc_id, unnest(range(1, 3)) AS track_id,
        |    10 + doc_id % 50 AS secs
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id, CAST(track_id AS BIGINT) AS track_id,
        |  CASE WHEN track_id = 1 THEN 'vide' ELSE 'soun' END AS handler,
        |  CAST(CASE WHEN track_id = 1 THEN 30000 ELSE 48000 END
        |    AS BIGINT) AS timescale,
        |  CAST(CASE WHEN track_id = 1 THEN 30000 * secs
        |    ELSE 48000 * secs END AS BIGINT) AS duration,
        |  CAST(CASE WHEN track_id = 1 THEN
        |      CASE doc_id % 3 WHEN 0 THEN 640 WHEN 1 THEN 1280
        |        ELSE 1920 END
        |    ELSE 0 END AS BIGINT) AS width,
        |  CAST(CASE WHEN track_id = 1 THEN
        |      CASE doc_id % 3 WHEN 0 THEN 360 WHEN 1 THEN 720
        |        ELSE 1080 END
        |    ELSE 0 END AS BIGINT) AS height,
        |  CAST(secs AS BIGINT) AS dur_s
        |FROM c ORDER BY doc_id, track_id""".stripMargin)),

    // L315 — STREAMING CONTAINER ROUTER: the L268 magic router at
    // ingest with the archive/container formats live (tar's offset-257
    // ustar magic, zip, TIFF both byte orders, ISO-BMFF ftyp) — the
    // dispatch a firehose runs before handing blobs to the right walk.
    // Stateless map, no state store; payloads stage once per session.
    Q("streaming_container_router",
      (s, dir) => QuerySupport.withStreamingPartitions(s) {
        import s.implicits._
        val srcDir = QuerySupport.stagedStreamSource("container_payloads",
          s, dir) { p =>
          val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
            .select(col("doc_id")).as[Long]
          val payloads = base.map { id =>
            import graft.pipeline._
            val bytes = (id % 4).toInt match {
              case 0 => Containers.mintTar(Seq((s"f$id", 0L,
                Array.fill[Byte]((id % 100).toInt)('y'.toByte))))
              case 1 => Containers.mintZip(Seq((s"f$id",
                s"zip $id".getBytes("UTF-8"), id % 2 == 0)))
              case 2 => TiffProbe.mint(4L, 4L, 8L, 1L, withExif = false,
                withGps = false, bigEndian = id % 2 == 1)
              case _ => Mp4Probe.mint("isom", 1000L, 1000L, Seq(
                Mp4Probe.TrackInfo(1L, "vide", 30000L, 30000L, 64L, 64L)))
            }
            (id, bytes)
          }.toDF("doc_id", "payload")
          QuerySupport.writeHeartbeat(payloads, p, "container_payloads.parquet")
        }
        val schema = s.read.parquet(srcDir).schema
        val routed = s.readStream.schema(schema).parquet(srcDir)
          .as[(Long, Array[Byte])]
          .map { case (id, bytes) =>
            (id, graft.pipeline.FormatSniff.sniff(bytes))
          }.toDF("doc_id", "routed")
        QuerySupport.runToMemory(s, "container", "append")(routed)
          .filter(col("doc_id") >= 0).orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'tar' WHEN 1 THEN 'zip'
        |    WHEN 2 THEN 'tiff' ELSE 'mp4' END AS routed
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)),

    // L316 — EPUB TEXT EXTRACTION (Containers.epubText): the book-
    // corpus front door — OCF mimetype certified (STORED, exact media
    // type), OPF located through container.xml, SPINE reading order
    // resolved through the manifest, chapters through the L256 HTML
    // extraction. One row per chapter in spine order; entities
    // round-trip through the escape/decode pair.
    Q("mm_epub_text",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
        val rows = base.flatMap { id =>
          import graft.pipeline.Containers
          val chapters = (0 until (1 + id % 2).toInt).map(j =>
            Seq(s"ep <$id> c$j a", s"ep $id c$j b"))
          val got = Containers.epubText(
            Containers.mintEpub(chapters, deflate = id % 2 == 0))
          require(got.size == chapters.size, "epub chapter count mismatch")
          got.map(c => (id, c.idx.toLong, c.href, c.text))
        }.toDF("doc_id", "idx", "href", "text")
        rows.orderBy(col("doc_id"), col("idx"))
      },
      Some("""WITH c AS (SELECT doc_id,
        |    unnest(range(0, 1 + doc_id % 2)) AS j
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id, CAST(j + 1 AS BIGINT) AS idx,
        |  'ch' || j || '.xhtml' AS href,
        |  'ep <' || doc_id || '> c' || j || ' a' || chr(10)
        |    || 'ep ' || doc_id || ' c' || j || ' b' AS text
        |FROM c ORDER BY doc_id, idx""".stripMargin)),

    // L317 — WEBP HEADER PROBE (pipeline/WebpProbe): the modern web
    // image container in all three flavors — VP8 lossy (start code +
    // 14-bit dims), VP8L lossless (packed 14-bit dims + alpha bit),
    // VP8X extended (24-bit canvas dims + alpha flag) — certified
    // against mint duals; the router magic rides along. Oracle replays
    // the flavor/dimension formulas.
    Q("mm_webp_probe",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
        val rows = base.map { id =>
          import graft.pipeline.{FormatSniff, WebpProbe}
          val flavor = Seq("vp8", "vp8l", "vp8x")((id % 3).toInt)
          val alpha = flavor != "vp8" && id % 2 == 0
          val bytes = WebpProbe.mint(flavor, 16L + id % 2000,
            16L + id % 1000, alpha)
          val p = WebpProbe.probe(bytes)
          require(p.flavor == flavor && p.hasAlphaFlag == alpha,
            "webp probe round-trip mismatch")
          (id, p.flavor, p.width, p.height, p.hasAlphaFlag,
            FormatSniff.sniff(bytes))
        }.toDF("doc_id", "flavor", "width", "height", "has_alpha",
          "sniffed")
        rows.orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'vp8' WHEN 1 THEN 'vp8l'
        |    ELSE 'vp8x' END AS flavor,
        |  CAST(16 + doc_id % 2000 AS BIGINT) AS width,
        |  CAST(16 + doc_id % 1000 AS BIGINT) AS height,
        |  doc_id % 3 <> 0 AND doc_id % 2 = 0 AS has_alpha,
        |  'webp' AS sniffed
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)),

    // L318 — STREAMING DOCX GATE (L308 at ingest): arriving office
    // documents extract statelessly at the firehose; a corrupt tier
    // (id%17: a payload byte flipped, caught by the ZIP CRC
    // certification) routes to failed rows instead of poisoning the
    // batch — the S10 posture live on the container path. No state
    // store; payloads stage once per session.
    Q("streaming_docx_gate",
      (s, dir) => QuerySupport.withStreamingPartitions(s) {
        import s.implicits._
        val srcDir = QuerySupport.stagedStreamSource("docx_payloads",
          s, dir) { p =>
          val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
            .select(col("doc_id")).as[Long]
          val payloads = base.map { id =>
            import graft.pipeline.Containers
            val docx = Containers.mintDocx(Seq(s"sdg $id"),
              deflate = id % 2 == 0)
            if (id % 17 == 0) {
              // flip a byte inside word/document.xml's payload: the
              // CRC certification must catch it downstream
              val e = Containers.walkZip(docx)
                .find(_.name == "word/document.xml").get
              val off = e.localOffset.toInt + 30 + e.name.length + 2
              docx(off) = (docx(off) ^ 0x55).toByte
            }
            (id, docx)
          }.toDF("doc_id", "payload")
          QuerySupport.writeHeartbeat(payloads, p, "docx_payloads.parquet")
        }
        val schema = s.read.parquet(srcDir).schema
        val gated = s.readStream.schema(schema).parquet(srcDir)
          .as[(Long, Array[Byte])]
          .map { case (id, bytes) =>
            scala.util.Try(graft.pipeline.Containers.docxText(bytes)) match {
              case scala.util.Success(t) => (id, true, t.length.toLong)
              case scala.util.Failure(_) => (id, false, -1L)
            }
          }.toDF("doc_id", "ok", "n_chars")
        QuerySupport.runToMemory(s, "docx", "append")(gated)
          .filter(col("doc_id") >= 0).orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, doc_id % 17 <> 0 AS ok,
        |  CAST(CASE WHEN doc_id % 17 <> 0
        |    THEN length('sdg ' || doc_id) ELSE -1 END AS BIGINT)
        |    AS n_chars
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)),

    // L322 — MATROSKA/WEBM PROBE (pipeline/MkvProbe): the EBML
    // container walk below any codec — VINT ids/sizes (widths 1-4
    // exercised by the registry ids themselves), DocType, Info's
    // TimecodeScale, per-track number/type/codec — the catalog a
    // .webm crawl certifies before routing; Clusters skipped by size
    // (lazy-decode). Oracle replays the track formulas.
    Q("mm_mkv_probe",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
        val rows = base.flatMap { id =>
          import graft.pipeline.MkvProbe
          val docType = if (id % 2 == 0) "webm" else "matroska"
          val scale = Seq(1000000L, 500000L, 2000000L)((id % 3).toInt)
          val tracks = Seq(
            MkvProbe.MkvTrack(1L, 1L,
              if (id % 2 == 0) "V_VP9" else "V_MPEG4/ISO/AVC"),
            MkvProbe.MkvTrack(2L, 2L,
              if (id % 5 == 0) "A_OPUS" else "A_VORBIS"))
          val p = MkvProbe.probe(MkvProbe.mint(docType, scale, tracks))
          require(p.docType == docType && p.timecodeScale == scale &&
            p.tracks == tracks, "mkv probe round-trip mismatch")
          p.tracks.map(t => (id, p.docType, p.timecodeScale, t.number,
            t.trackType, t.codecId))
        }.toDF("doc_id", "doc_type", "timecode_scale", "number",
          "track_type", "codec_id")
        rows.orderBy(col("doc_id"), col("number"))
      },
      Some("""WITH c AS (SELECT doc_id, unnest(range(1, 3)) AS number
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'webm' ELSE 'matroska' END
        |    AS doc_type,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 1000000 WHEN 1 THEN 500000
        |    ELSE 2000000 END AS BIGINT) AS timecode_scale,
        |  CAST(number AS BIGINT) AS number,
        |  CAST(number AS BIGINT) AS track_type,
        |  CASE WHEN number = 1 THEN
        |      CASE WHEN doc_id % 2 = 0 THEN 'V_VP9'
        |        ELSE 'V_MPEG4/ISO/AVC' END
        |    ELSE CASE WHEN doc_id % 5 = 0 THEN 'A_OPUS'
        |      ELSE 'A_VORBIS' END END AS codec_id
        |FROM c ORDER BY doc_id, number""".stripMargin))
  )
}
