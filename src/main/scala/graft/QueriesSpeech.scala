package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, EvalOps, EventAnalytics, GraphOps, MLlibOps, Multimodal, Retrieval, SegmentAlgebra, SegmentOps, Similarity, TextOps}
import graft.QuerySupport._

/** The speech-pipeline operator surface (SURVEY §2 S/P/M/HM ids):
  * codec roundtrips, probes, service inference, stage mirrors.
  */
private[graft] object QueriesSpeech {

  def entries: Seq[Q] = Seq(

    // P1 — pad + clamp segment bounds (vad_multi.py:33-35), clamped to the
    // per-user observed span (the reference clamps to [0, file duration]).
    Q("p1_pad_clamp",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
        Tables.eventIntervals(s, dir)
          .withColumn("lo", min(col("s_us")).over(w))
          .withColumn("hi", max(col("e_us")).over(w))
          .select(col("user_id"), col("event_id"),
            greatest(col("s_us") - lit(5000000L), col("lo")).as("pad_start"),
            least(col("e_us") + lit(5000000L), col("hi")).as("pad_end"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some(s"""WITH $evIntervalsSqlCte
        |SELECT user_id, event_id,
        |  greatest(s_us - 5000000, MIN(s_us) OVER (PARTITION BY user_id)) AS pad_start,
        |  least(e_us + 5000000, MAX(e_us) OVER (PARTITION BY user_id)) AS pad_end
        |FROM i ORDER BY user_id, event_id""".stripMargin)),


    // P3 — silence predicate with the reference's double-append quirk
    // (utils.py:127-143 appends a gap once per satisfied condition, so a
    // short AND quiet gap lands twice): UNION ALL of both branches.
    Q("p3_silence_union",
      (s, dir) => {
        val gaps = SegmentOps.adjacentGaps(
          Tables.eventIntervals(s, dir), "user_id", "s_us", "e_us", "event_id", "cents")
        val short = gaps.filter(col("gap_end") - col("gap_start") < lit(60000000L))
        val quiet = gaps.filter(col("prev_feature") < 1000 && col("next_feature") < 1000)
        short.select(col("user_id"), col("gap_start"), col("gap_end"))
          .unionAll(quiet.select(col("user_id"), col("gap_start"), col("gap_end")))
          .orderBy(col("user_id"), col("gap_start"), col("gap_end"))
      },
      Some(s"""WITH $evIntervalsSqlCte,
        |l AS (SELECT user_id, e_us, cents,
        |  lead(s_us) OVER w AS next_start, lead(cents) OVER w AS next_feature
        |  FROM i WINDOW w AS (PARTITION BY user_id ORDER BY s_us, event_id)),
        |g AS (SELECT user_id, e_us AS gap_start, next_start AS gap_end,
        |  cents AS prev_feature, next_feature
        |  FROM l WHERE next_start IS NOT NULL AND next_start >= e_us)
        |SELECT user_id, gap_start, gap_end FROM (
        |  SELECT user_id, gap_start, gap_end FROM g WHERE gap_end - gap_start < 60000000
        |  UNION ALL
        |  SELECT user_id, gap_start, gap_end FROM g WHERE prev_feature < 1000 AND next_feature < 1000
        |) t ORDER BY user_id, gap_start, gap_end""".stripMargin)),


    // S2 — REAL Ogg/Vorbis codec as an oracle-checked query (the
    // sibling of s2_mp3_roundtrip): tones through the pure-JVM Vorbis
    // encoder (floor1 + residue + MDCT, self-describing codebooks) and
    // back through the PRODUCTION decode seam; DuckDB recomputes the
    // exact output length, rate and the preserved Goertzel peak from
    // the synthesis parameters. Ids with id % 3 == 2 take the MIXED
    // 256/1024 block-size stream (asymmetric transition windows, S-S-L-L
    // pattern) — its emitted length equals the tone length too, because
    // every fixture length is a multiple of the 1280-sample S-S-L-L
    // lap cycle, so ONE oracle covers both window paths. Bounded slice
    // (event_id < 40).
    Q("s2_vorbis_roundtrip",
      (s, dir) => {
        import s.implicits._
        import graft.pipeline.{VorbisEncoder, WavAudio}
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 40).distinct().as[Long]
        val payloads = ids.map { id =>
          val f = 250.0 * (1 + id % 4)
          val n = (3840 + (id % 4) * 1280).toInt // 0.24-0.48 s at 16 kHz
          val tone = Array.tabulate(n)(i =>
            (0.5 * math.sin(2 * math.Pi * f * i / 16000.0)).toFloat)
          val bytes =
            if (id % 3 == 2) VorbisEncoder.encodeMixed(16000, tone)
            else VorbisEncoder.encode(16000, tone)
          (id.toString, bytes)
        }
        WavAudio.decodeDataset(payloads)
          .map { a =>
            def power(f: Double): Double = {
              var re = 0.0; var im = 0.0
              var i = 0
              while (i < a.waveform.length) {
                val w = 2 * math.Pi * f * i / a.sr
                re += a.waveform(i) * math.cos(w)
                im += a.waveform(i) * math.sin(w)
                i += 1
              }
              re * re + im * im
            }
            val peak = Seq(250, 500, 750, 1000).maxBy(c => power(c.toDouble))
            (a.file.toLong, a.sr.toLong, a.waveform.length.toLong, peak.toLong)
          }
          .toDF("event_id", "sr", "n_samples", "peak_hz")
          .orderBy(col("event_id"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS event_id
        |  FROM events WHERE event_id < 40)
        |SELECT event_id, CAST(16000 AS BIGINT) AS sr,
        |  CAST(3840 + (event_id % 4) * 1280 AS BIGINT) AS n_samples,
        |  CAST(250 * (1 + event_id % 4) AS BIGINT) AS peak_hz
        |FROM ids ORDER BY event_id""".stripMargin)),


    // S2 — the REAL codec path as an oracle-checked query: per event id
    // synthesize a deterministic int16 waveform, container-encode it
    // (WAV for even ids, FLAC for odd — both real encoders), decode
    // through the production decode seam (javax.sound / pure-JVM FLAC),
    // and report the recovered sample sum. Lossless 16-bit round-trip
    // means the sum equals the synthesis formula's sum EXACTLY, which
    // DuckDB recomputes arithmetically — an external engine checking a
    // codec without decoding a byte. Bounded slice (event_id < 300).
    Q("s2_codec_roundtrip",
      (s, dir) => {
        import s.implicits._
        import graft.pipeline.{FlacAudio, WavAudio}
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 300).distinct().as[Long]
        val payloads = ids.map { id =>
          val n = (200 + id % 800).toInt
          val sam = Array.tabulate(n)(i =>
            ((id * 31 + i.toLong * 17) % 201 - 100) * 50 / 32767f)
          val bytes =
            if (id % 2 == 0) WavAudio.encode(8000, sam)
            else FlacAudio.encode(8000, sam)
          (id.toString, bytes)
        }
        WavAudio.decodeDataset(payloads)
          .map { a =>
            val sum = a.waveform.foldLeft(0L)((acc, x) =>
              acc + math.round(x * 32768f))
            (a.file.toLong, a.sr, a.waveform.length.toLong, sum)
          }
          .toDF("event_id", "sr", "n_samples", "sum_q")
          .withColumn("container",
            when(pmod(col("event_id"), lit(2L)) === 0L, lit("wav"))
              .otherwise(lit("flac")))
          .select(col("event_id"), col("container"), col("sr"),
            col("n_samples"), col("sum_q"))
          .orderBy(col("event_id"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS event_id
        |  FROM events WHERE event_id < 300),
        |c AS (SELECT event_id, CAST(200 + event_id % 800 AS BIGINT) AS n FROM ids)
        |SELECT event_id,
        |  CASE WHEN event_id % 2 = 0 THEN 'wav' ELSE 'flac' END AS container,
        |  8000 AS sr, n AS n_samples,
        |  CAST(list_sum(list_transform(range(n),
        |    i -> ((event_id * 31 + i * 17) % 201 - 100) * 50)) AS BIGINT) AS sum_q
        |FROM c ORDER BY event_id""".stripMargin)),


    // S3 — the pre-decode probe GATE as an oracle-checked query over
    // ALL SIX reference container families (`utils.py:11-16`): WAV +
    // FLAC full payloads, CBR MP3 silence frames, Ogg/Vorbis
    // granule-position pages, M4A mvhd/mdhd box walks, ADTS AAC frame
    // walks (header-accurate minted shells — the probe reads only
    // headers). Junk payloads for id%7=0 probe as duration 0 (the
    // reference's get_duration failure contract); gate [1 s, 2.5 s];
    // DuckDB recomputes survivorship from each family's exact integer
    // duration formula. Bounded slice (event_id < 400).
    Q("s3_probe_gate",
      (s, dir) => {
        import s.implicits._
        import graft.pipeline.{AudioProbe, FlacAudio, WavAudio}
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 400).distinct().as[Long]
        val payloads = ids.map { id =>
          val k = (id % 50).toInt
          val bytes =
            if (id % 7 == 0) Array.fill[Byte](96)(0x5a) // foreign bytes
            else (id % 6) match {
              case 0 => WavAudio.encode(8000, new Array[Float](4000 + k * 400))
              case 1 => FlacAudio.encode(8000, new Array[Float](4000 + k * 400))
              case 2 => AudioProbe.Mint.mp3Cbr(14 + k * 2) // 36 ms/frame CBR
              case 3 => AudioProbe.Mint.ogg(16000, 8000L + k * 800L)
              case 4 => AudioProbe.Mint.m4a(24000, 12000L + k * 1200L)
              case _ => AudioProbe.Mint.adts(16000, 8 + k)
            }
          (id.toString, bytes)
        }
        AudioProbe.probeGate(payloads, minSec = 1.0, maxSec = 2.5)
          .map(_._1.toLong).toDF("event_id")
          .orderBy(col("event_id"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS event_id
        |  FROM events WHERE event_id < 400),
        |c AS (SELECT event_id, event_id % 50 AS k, event_id % 6 AS fam FROM ids),
        |d AS (SELECT event_id,
        |  CASE fam
        |    WHEN 0 THEN (4000 + k * 400) * 125
        |    WHEN 1 THEN (4000 + k * 400) * 125
        |    WHEN 2 THEN (14 + k * 2) * 36000
        |    WHEN 3 THEN (8000 + k * 800) * 1000000 // 16000
        |    WHEN 4 THEN (12000 + k * 1200) * 1000000 // 24000
        |    ELSE (8 + k) * 64000 END AS dur_us
        |  FROM c)
        |SELECT event_id FROM d
        |WHERE event_id % 7 <> 0 AND dur_us >= 1000000 AND dur_us <= 2500000
        |ORDER BY event_id""".stripMargin)),


    // S2 — REAL MP3 codec as an oracle-checked query: per event id a
    // known tone is encoded by the pure-JVM MPEG-1 Layer III encoder
    // and decoded back through the PRODUCTION decode seam
    // (WavAudio.decode → Mp3Audio); the decoded stream's length, rate
    // and Goertzel-detected peak frequency are discrete facts DuckDB
    // recomputes from the synthesis parameters alone — frequency
    // preservation through a lossy codec is the roundtrip check.
    // Bounded slice (event_id < 40).
    Q("s2_mp3_roundtrip",
      (s, dir) => {
        import s.implicits._
        import graft.pipeline.{Mp3Encoder, WavAudio}
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 40).distinct().as[Long]
        val payloads = ids.map { id =>
          val f = 250.0 * (1 + id % 4)
          val n = (6400 + (id % 4) * 3200).toInt // 0.2-0.5 s at 32 kHz
          val tone = Array.tabulate(n)(i =>
            (0.5 * math.sin(2 * math.Pi * f * i / 32000.0)).toFloat)
          (id.toString, Mp3Encoder.encode(32000, tone, 128))
        }
        WavAudio.decodeDataset(payloads)
          .map { a =>
            def power(f: Double): Double = {
              var re = 0.0; var im = 0.0
              var i = 2000 // skip filterbank warm-up
              while (i < a.waveform.length) {
                val w = 2 * math.Pi * f * i / a.sr
                re += a.waveform(i) * math.cos(w)
                im += a.waveform(i) * math.sin(w)
                i += 1
              }
              re * re + im * im
            }
            val peak = Seq(250, 500, 750, 1000).maxBy(c => power(c.toDouble))
            (a.file.toLong, a.sr.toLong, a.waveform.length.toLong, peak.toLong)
          }
          .toDF("event_id", "sr", "n_samples", "peak_hz")
          .orderBy(col("event_id"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS event_id
        |  FROM events WHERE event_id < 40)
        |SELECT event_id, CAST(32000 AS BIGINT) AS sr,
        |  ((6400 + (event_id % 4) * 3200 + 1151) // 1152) * 1152 AS n_samples,
        |  CAST(250 * (1 + event_id % 4) AS BIGINT) AS peak_hz
        |FROM ids ORDER BY event_id""".stripMargin)),


    // S2 — REAL AAC-LC codec as an oracle-checked query (completes the
    // reference's six-format decode surface — `.aac`/`.m4a` in
    // `modules/models/utils.py:11-16`): tones through the pure-JVM
    // AAC-LC encoder (MDCT + escape-codebook entropy coding) into BOTH
    // container fronts — ADTS frames for even ids, single-chunk M4A
    // for odd — and back through the PRODUCTION decode seam
    // (WavAudio.decode → AacAudio). Ids with id % 3 == 0 take the
    // window-switching tier (EIGHT_SHORT every 3rd block, grouped
    // scalefactors, LONG_START/STOP transitions); id % 5 == 0 adds the
    // TNS tier (forward FIR inverted by the decoder's all-pole
    // synthesis); id % 7 == 0 uses KBD windows. DuckDB recomputes the
    // exact decoded length (ceil-to-1024 after the priming drop), rate
    // and the preserved Goertzel peak. Bounded slice (event_id < 40).
    Q("s2_aac_roundtrip",
      (s, dir) => {
        import s.implicits._
        import graft.pipeline.{AacEncoder, WavAudio}
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 40).distinct().as[Long]
        val payloads = ids.map { id =>
          val f = 250.0 * (1 + id % 4)
          val n = (6000 + (id % 4) * 2048).toInt // 0.25-0.5 s at 24 kHz
          val tone = Array.tabulate(n)(i =>
            (0.5 * math.sin(2 * math.Pi * f * i / 24000.0)).toFloat)
          val shortPeriod = if (id % 3 == 0) 3 else 0
          val tns = id % 5 == 0
          val shape = if (id % 7 == 0) 1 else 0
          val bytes =
            if (id % 2 == 0) AacEncoder.encode(24000, tone, shape, shortPeriod, tns)
            else AacEncoder.encodeM4a(24000, tone, shape, shortPeriod, tns)
          (id.toString, bytes)
        }
        WavAudio.decodeDataset(payloads)
          .map { a =>
            def power(f: Double): Double = {
              var re = 0.0; var im = 0.0
              var i = 0
              while (i < a.waveform.length) {
                val w = 2 * math.Pi * f * i / a.sr
                re += a.waveform(i) * math.cos(w)
                im += a.waveform(i) * math.sin(w)
                i += 1
              }
              re * re + im * im
            }
            val peak = Seq(250, 500, 750, 1000).maxBy(c => power(c.toDouble))
            (a.file.toLong, a.sr.toLong, a.waveform.length.toLong, peak.toLong)
          }
          .toDF("event_id", "sr", "n_samples", "peak_hz")
          .withColumn("container",
            when(pmod(col("event_id"), lit(2L)) === 0L, lit("adts"))
              .otherwise(lit("m4a")))
          .select(col("event_id"), col("container"), col("sr"),
            col("n_samples"), col("peak_hz"))
          .orderBy(col("event_id"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS event_id
        |  FROM events WHERE event_id < 40)
        |SELECT event_id,
        |  CASE WHEN event_id % 2 = 0 THEN 'adts' ELSE 'm4a' END AS container,
        |  CAST(24000 AS BIGINT) AS sr,
        |  ((6000 + (event_id % 4) * 2048 + 1023) // 1024) * 1024 AS n_samples,
        |  CAST(250 * (1 + event_id % 4) AS BIGINT) AS peak_hz
        |FROM ids ORDER BY event_id""".stripMargin)),


    // S2+S10 — MP3 HUFFMAN TABLE COVERAGE + FOREIGN-STREAM FAILURE
    // RATE as an oracle query (quantifies the documented
    // engine-local-codebook bound, Mp3Tables scaladoc): three minted
    // tiers per id — spec-exact big-value tables (2/5/7/9/10), the
    // ENGINE-LOCAL set (13/15/16/24 — the tables real music encoders
    // select that this engine carries only as engine-local codebooks;
    // self-consistent streams decode clean, so their selection
    // frequency is the at-risk surface), and a FOREIGN-STYLE tier:
    // frames re-declared to reserved table 14 via side-info surgery
    // (Mp3Encoder.declareTables) — the decoder's table lookup rejects
    // every frame deterministically, proving the S10 loud-failure
    // routing (failed frames yield silence rows + stats, never corrupt
    // audio). DuckDB recomputes table id, class, frame count and
    // failed count from the id arithmetic alone. Bounded (id < 45).
    Q("s2_mp3_table_coverage",
      (s, dir) => {
        import s.implicits._
        import graft.pipeline.{Mp3Audio, Mp3Encoder}
        val specT = Array(2, 5, 7, 9, 10)
        val engT = Array(13, 15, 16, 24)
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 45).distinct().as[Long]
        val rows = ids.map { id =>
          val n = (3456 + (id % 3).toInt * 1152) // exact frame multiples
          val tone = Array.tabulate(n)(i =>
            (0.5 * math.sin(2 * math.Pi * 500.0 * (1 + id % 2) * i / 32000.0)).toFloat)
          val (tid, clazz, bytes) = (id % 3) match {
            case 0 =>
              val t = specT(((id / 3) % specT.length).toInt)
              (t, "spec", Mp3Encoder.encode(32000, tone, 128, Some(t)))
            case 1 =>
              val t = engT(((id / 3) % engT.length).toInt)
              (t, "engine", Mp3Encoder.encode(32000, tone, 128, Some(t)))
            case _ =>
              val enc = Mp3Encoder.encode(32000, tone, 128, Some(7))
              (14, "foreign", Mp3Encoder.declareTables(enc, 576, 14))
          }
          val (_, _, stats) = Mp3Audio.decodeWithStats(bytes)
          val nFrames = stats.size.toLong
          val nFailed = stats.count(!_.ok).toLong
          // every granule of a tone frame carries big values, so the
          // foreign tier must fail UNIFORMLY — any partial outcome is
          // a fixture bug, not data
          require(nFailed == 0L || nFailed == nFrames,
            s"id $id: mixed outcome $nFailed/$nFrames")
          (id, tid.toLong, clazz, nFrames, nFailed)
        }.toDF("event_id", "table_id", "table_class", "n_frames", "n_failed")
        rows.orderBy(col("event_id"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS event_id
        |  FROM events WHERE event_id < 45),
        |c AS (SELECT event_id,
        |    CAST(3 + event_id % 3 AS BIGINT) AS n_frames,
        |    event_id % 3 AS tier, event_id // 3 AS grp FROM ids)
        |SELECT event_id,
        |  CAST(CASE tier
        |    WHEN 0 THEN ([2, 5, 7, 9, 10])[CAST(grp % 5 AS INT) + 1]
        |    WHEN 1 THEN ([13, 15, 16, 24])[CAST(grp % 4 AS INT) + 1]
        |    ELSE 14 END AS BIGINT) AS table_id,
        |  CASE tier WHEN 0 THEN 'spec' WHEN 1 THEN 'engine'
        |    ELSE 'foreign' END AS table_class,
        |  n_frames,
        |  CASE WHEN tier = 2 THEN n_frames ELSE CAST(0 AS BIGINT) END AS n_failed
        |FROM c ORDER BY event_id""".stripMargin)),


    // S10+A11 — decode fault isolation + run tallies as an oracle
    // query: every id%5=0 payload is corrupt and must yield a
    // failed-status ROW (not a job abort), everything else completes;
    // the tallies land via Incremental.statusCounts and DuckDB
    // recomputes them from the corruption rule. Bounded (event_id < 500).
    // L130 — EXTERNAL-SERVICE BATCH INFERENCE IN THE GATE: the generic
    // HTTP operator (per-executor keep-alive client, order-preserving
    // pipelining, retry ladder, S10 routing) driven end-to-end against
    // the engine-minted LineService fixture inside the correctness
    // gate. Clean docs flow through 64-row pipelined batches; docs with
    // doc_id % 97 == 0 carry the poison marker and run as singleton
    // batches (per-batch failure granularity — a poisoned doc must fail
    // ALONE), exhausting retries into deterministic failed-status rows.
    // The oracle states both legs: the service's token count for clean
    // docs, n_tok = -1 + status 'failed' for poisoned — so the S10
    // routing itself is oracle-checked, not just suite-tested.
    Q("svc_batch_inference",
      (s, dir) => {
        import s.implicits._
        import graft.pipeline.{HttpInference, HttpServiceConfig}
        val ep = tokenCountService.endpoint
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .as[(Long, String)]
        def run(ds: org.apache.spark.sql.Dataset[(Long, String)], tag: String,
                cfg: HttpServiceConfig) =
          HttpInference.mapService[(Long, String), (Long, Long, String)](ds, cfg,
            encode = { case (id, t) => s"$tag\t$id\t${HttpInference.b64t(t)}" },
            decode = f => (f(0).toLong, f(1).toLong, "completed"),
            onFailure = (x, _) => (x._1, -1L, "failed"))
        val clean = run(docs.filter(_._1 % 97 != 0), "OK",
          HttpServiceConfig(ep, batchSize = 64, maxInFlight = 4,
            maxRetries = 2, baseBackoffMs = 2))
        val poisoned = run(docs.filter(_._1 % 97 == 0), "POISON",
          HttpServiceConfig(ep, batchSize = 1, maxInFlight = 4,
            maxRetries = 1, baseBackoffMs = 1))
        clean.union(poisoned).toDF("doc_id", "n_tok", "status")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksSqlCte
        |SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 0 THEN CAST(-1 AS BIGINT)
        |    ELSE CAST(len(toks) AS BIGINT) END AS n_tok,
        |  CASE WHEN doc_id % 97 = 0 THEN 'failed' ELSE 'completed' END AS status
        |FROM d ORDER BY doc_id""".stripMargin)),


    Q("s10_status_counts",
      (s, dir) => {
        import s.implicits._
        import graft.pipeline.WavAudio
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 500).distinct().as[Long]
        val payloads = ids.map { id =>
          val bytes =
            if (id % 5 == 0) "zz".getBytes ++ new Array[Byte](64)
            else WavAudio.encode(8000, new Array[Float](800))
          (id.toString, bytes)
        }
        graft.sources.Incremental.statusCounts(
            WavAudio.decodeDatasetWithStatus(payloads).toDF(), "status")
          .select(col("status"), col("count").cast("long").as("n"))
          .orderBy(col("status"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS event_id
        |  FROM events WHERE event_id < 500),
        |c AS (SELECT CASE WHEN event_id % 5 = 0 THEN 'failed'
        |    ELSE 'completed' END AS status FROM ids)
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n
        |FROM c GROUP BY status ORDER BY status""".stripMargin)),


    // M7∘J7∘S11∘M9 — the TRANSCRIPTION SHELL as an oracle-checked
    // query: real segment slicing feeds the (deterministic mock) ASR
    // kernel, the per-file sidecar inner join drops files with no
    // transcript (id%4=1), and forced alignment distributes word spans
    // uniformly — constant-amplitude synthesis keeps every branch an
    // exact integer/formula DuckDB mirrors: nWords = end−start seconds,
    // loud/soft + en/xx by amplitude parity, spans at whole seconds.
    Q("m7_asr_align",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 100).distinct().as[Long]
        val audio = ids.map { id =>
          val amp = if (id % 2 == 0) 0.9f else 0.1f
          graft.model.AudioFile(id.toString, 1000, Array.fill(6000)(amp))
        }
        val segs = ids.map(id => graft.model.SpeakerSegment(
          id.toString, 1.0, 2.0 + (id % 3), s"spk${id % 2}"))
        val asr = graft.pipeline.Transcription.asrStage(segs, audio)
        val transcripts = ids.filter(_ % 4 != 1)
          .map(id => (id.toString, s"t$id")).toDF("file", "sidecar")
        graft.pipeline.Transcription.alignStage(asr, transcripts)
          .select(col("file").cast("long").as("event_id"), col("speaker"),
            col("word"), col("w_start"), col("w_end"))
          .orderBy(col("event_id"), col("w_start"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 100),
        |k AS (SELECT id, 1 + id % 3 AS nw,
        |    CASE WHEN id % 2 = 0 THEN 'loud' ELSE 'soft' END AS word
        |  FROM ids WHERE id % 4 <> 1),
        |w AS (SELECT id, word, unnest(range(nw)) AS i FROM k)
        |SELECT id AS event_id, 'spk' || CAST(id % 2 AS VARCHAR) AS speaker,
        |  word, CAST(1 + i AS DOUBLE) AS w_start, CAST(2 + i AS DOUBLE) AS w_end
        |FROM w ORDER BY event_id, w_start""".stripMargin)),


    // M8 (audio side) — language detection through the ASR kernel: the
    // deterministic energy heuristic (the reference's unseeded 30-s
    // sampling made deterministic, SURVEY §7.4.2) labels each file
    // en/xx; DuckDB mirrors the amplitude-parity rule.
    Q("m8_langid_audio",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 150).distinct().as[Long]
        val audio = ids.map { id =>
          val amp = if (id % 2 == 0) 0.9f else 0.1f
          graft.model.AudioFile(id.toString, 1000, Array.fill(3000)(amp))
        }
        val segs = ids.map(id => graft.model.SpeakerSegment(
          id.toString, 0.5, 2.5, "spk"))
        graft.pipeline.Transcription.asrStage(segs, audio)
          .map(r => (r.file.toLong, r.language))
          .toDF("event_id", "language")
          .orderBy(col("event_id"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 150)
        |SELECT id AS event_id,
        |  CASE WHEN id % 2 = 0 THEN 'en' ELSE 'xx' END AS language
        |FROM ids ORDER BY event_id""".stripMargin)),


    // M5∘A12 — the CLUSTERING KERNEL as an oracle-checked query: the
    // real HDBSCAN-shaped leader clustering runs per group inside
    // flatMapGroups (the production per-file granularity) over one-hot
    // family embeddings, where every cosine is exactly 1 or 0 — so
    // grouping, the A12 min-cluster floor (max(2, ⌊n·0.04⌋)), the
    // first-appearance label order, and the failed soft rescue of the
    // planted singleton family are all pure relational facts DuckDB
    // recomputes with windows. Bounded (event_id < 430: 43 members per
    // group, family counts {9,9,8,8,8,1} — the 1 dissolves to −1).
    Q("m5_cluster_floor",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 430).distinct().as[Long]
        ids.groupByKey(_ % 10)
          .flatMapGroups { (g, it) =>
            val members = it.toArray.sorted
            val embs: IndexedSeq[Array[Float]] = members.toIndexedSeq.map { id =>
              val e = new Array[Float](16)
              val fam = if (id / 10 == 42) 5 else (id / 10) % 5
              e(fam.toInt) = 1f
              e
            }
            val labels = graft.pipeline.Clustering.clusterOne(embs)
            members.zip(labels).iterator.map { case (id, l) =>
              (id, g, l.toLong)
            }
          }
          .toDF("event_id", "grp", "label")
          .orderBy(col("event_id"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 430),
        |m AS (SELECT id, id % 10 AS grp,
        |  CASE WHEN id // 10 = 42 THEN 5 ELSE (id // 10) % 5 END AS fam
        |  FROM ids),
        |pos AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY id) AS p,
        |  COUNT(*) OVER (PARTITION BY grp) AS n FROM m),
        |fs AS (SELECT grp, fam, COUNT(*) AS fsz, MIN(p) AS fp, MAX(n) AS n
        |  FROM pos GROUP BY grp, fam),
        |surv AS (SELECT grp, fam,
        |    CAST(dense_rank() OVER (PARTITION BY grp ORDER BY fp) AS BIGINT) - 1 AS label
        |  FROM fs WHERE fsz >= greatest(2, CAST(trunc(n * 0.04) AS BIGINT)))
        |SELECT m.id AS event_id, m.grp, COALESCE(s.label, -1) AS label
        |FROM m LEFT JOIN surv s ON s.grp = m.grp AND s.fam = m.fam
        |ORDER BY event_id""".stripMargin)),


    // M2∘W5∘F9 — the SEPARATION COMPOSITION as an oracle-checked
    // query: margins∘STFT-frames∘kernel∘reassembly∘residual over
    // random-ish formula waveforms whose lengths straddle the chunk
    // and frame boundaries. The linear kernel must commute with the
    // whole window algebra (vocal ≡ 0.8f·mix sample-for-sample) and
    // the residual must conserve (mix ≡ vocal + nonvocal) — checked
    // per sample Spark-side, reported as booleans the oracle pins TRUE
    // for every corpus-derived length. Bounded (event_id < 150).
    Q("m2_separate_transparent",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 150).distinct().as[Long]
        val audio = ids.map { id =>
          val n = (300 + (id % 9) * 700).toInt
          val w = Array.tabulate(n)(i =>
            (((id * 31 + i.toLong * 17) % 201) - 100) / 128f)
          graft.model.AudioFile(id.toString, 16000, w)
        }
        val stems = graft.pipeline.SpeechPipeline.separateStage(audio)
          .map { case (v, nv) => (v.file, v.waveform, nv.waveform) }
          .toDF("file", "voc", "nonvoc")
        audio.map(a => (a.file, a.waveform)).toDF("file", "mix")
          .join(stems, "file")
          .as[(String, Array[Float], Array[Float], Array[Float])]
          .map { case (f, mix, voc, non) =>
            val vocalExact = voc.length == mix.length &&
              mix.indices.forall(i => voc(i) == mix(i) * 0.8f)
            val residualExact = non.length == mix.length &&
              mix.indices.forall(i => non(i) == mix(i) - voc(i))
            (f.toLong, mix.length.toLong, vocalExact, residualExact)
          }
          .toDF("event_id", "n_samples", "vocal_exact", "residual_exact")
          .orderBy(col("event_id"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 150)
        |SELECT id AS event_id, CAST(300 + (id % 9) * 700 AS BIGINT) AS n_samples,
        |  TRUE AS vocal_exact, TRUE AS residual_exact
        |FROM ids ORDER BY event_id""".stripMargin)),


    // M10∘W4∘A9 — the DNSMOS SHELL as an oracle-checked query: real
    // wraparound-padded hop windows + the (deterministic mock) polyfit
    // kernel + per-clip means. Amplitudes 1.0/0.0 make every window's
    // mean energy an exact constant, so the per-clip scores are pure
    // Horner constants; outputs scale to e6 integers so a 1-ulp
    // averaging wobble can never flip the compare. Hop-count formula
    // (dnsmos.py:134) checked across the pad/1..4-hop range.
    Q("m10_dnsmos_windows",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 100).distinct().as[Long]
        val audio = ids.map { id =>
          val amp = if (id % 2 == 0) 1.0f else 0.0f
          graft.model.AudioFile(id.toString, 1000,
            Array.fill(1500 + (id % 5).toInt * 1000)(amp))
        }
        val wins = graft.pipeline.Transcription.dnsmosWindows(
          audio, winSec = 2.0, hopSec = 1.0)
        graft.pipeline.Transcription.dnsmosScores(wins)
          .select(col("file").cast("long").as("event_id"), col("num_hops"),
            round(col("OVRL") * 1e6d).cast("long").as("ovrl_e6"),
            round(col("SIG") * 1e6d).cast("long").as("sig_e6"),
            round(col("BAK") * 1e6d).cast("long").as("bak_e6"))
          .orderBy(col("event_id"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 100),
        |c AS (SELECT id, 1500 + (id % 5) * 1000 AS len,
        |  CASE WHEN id % 2 = 0 THEN 1.0 ELSE 0.0 END AS x FROM ids),
        |h AS (SELECT id, x, CASE WHEN len < 2000 THEN 1
        |  ELSE (len - 2000) // 1000 + 1 END AS nh FROM c)
        |SELECT id AS event_id, CAST(nh AS BIGINT) AS num_hops,
        |  CAST(round((((-0.06)*x + 1.7)*x + 0.2) * 1000000) AS BIGINT) AS ovrl_e6,
        |  CAST(round(((0.04*x + 1.1)*x + 0.8) * 1000000) AS BIGINT) AS sig_e6,
        |  CAST(round((((-0.01)*x + 0.9)*x + 1.2) * 1000000) AS BIGINT) AS bak_e6
        |FROM h ORDER BY event_id""".stripMargin)),


    // M1∘P1∘W1 — the VAD SHELL as an oracle-checked query: the
    // (deterministic mock) VAD kernel + pad/clamp + zero-gap merge over
    // synthesized bursts. Per id: a main burst, for even ids a second
    // burst whose 0.05 s gap closes under the ±0.05 s padding (the
    // merge is observable in the output span), and a 30-sample blip
    // under the 50-sample min-run (must vanish). Output in rounded µs
    // so double pad arithmetic can never flip the compare. Bounded
    // (event_id < 120).
    Q("m1_vad_gate",
      (s, dir) => {
        import s.implicits._
        val ids = Tables.events(s, dir).select(col("event_id").cast("long"))
          .filter(col("event_id") < 120).distinct().as[Long]
        val audio = ids.map { id =>
          val w = new Array[Float](5000)
          val l1 = 200 * (1 + (id % 3)).toInt
          for (i <- 1000 until 1000 + l1) w(i) = 0.9f
          if (id % 2 == 0) {
            val b2 = 1000 + l1 + 50
            for (i <- b2 until b2 + 300) w(i) = 0.9f
          }
          for (i <- 4500 until 4530) w(i) = 0.9f // sub-min-run blip
          graft.model.AudioFile(id.toString, 1000, w)
        }
        graft.pipeline.SpeechPipeline.vadStage(audio, padSec = 0.05)
          .map(seg => (seg.file.toLong,
            math.round(seg.start * 1e6d), math.round(seg.end * 1e6d)))
          .toDF("event_id", "s_us", "e_us")
          .orderBy(col("event_id"), col("s_us"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 120),
        |c AS (SELECT id, 1000 + 200 * (1 + id % 3) AS e1 FROM ids)
        |SELECT id AS event_id, CAST(950000 AS BIGINT) AS s_us,
        |  CAST(CASE WHEN id % 2 = 0 THEN e1 * 1000 + 400000
        |            ELSE e1 * 1000 + 50000 END AS BIGINT) AS e_us
        |FROM c ORDER BY event_id, s_us""".stripMargin)),


    // W5 — the STFT frame plan as an oracle-checked query: run the real
    // stftFrames operator (separate_fast.py:208-221 arithmetic — trim =
    // nFft/2, gen = chunkSize − 2·trim, the full-gen pad quirk at
    // n mod gen == 0) over synthetic waveforms sized from document
    // lengths, and report per-doc (n, pad, n_frames); DuckDB mirrors
    // the arithmetic. Bounded slice (doc_id < 200), chunk 1024/nFft 512
    // → gen 512.
    Q("w5_stft_plan",
      (s, dir) => {
        import s.implicits._
        val audio = Tables.documents(s, dir)
          .filter(col("doc_id") < 200)
          .select(col("doc_id"), (pmod(col("n_chars"), lit(3000L)) + 1L).as("n"))
          .as[(Long, Long)]
          .map { case (id, n) =>
            graft.model.AudioFile(id.toString, 16000, new Array[Float](n.toInt)) }
        graft.pipeline.SpeechPipeline.stftFrames(audio, chunkSize = 1024, nFft = 512)
          .groupByKey(_.file)
          .mapGroups { (file, it) =>
            val fs = it.toArray
            (file.toLong, fs.head.nSample.toLong, fs.head.pad.toLong, fs.length.toLong)
          }
          .toDF("doc_id", "n_samples", "pad", "n_frames")
          .orderBy(col("doc_id"))
      },
      Some("""WITH b AS (SELECT doc_id, n_chars % 3000 + 1 AS n
        |  FROM documents WHERE doc_id < 200),
        |c AS (SELECT doc_id, n, 512 - (n % 512) AS pad FROM b)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples, CAST(pad AS BIGINT) AS pad,
        |  CAST((n + pad) // 512 AS BIGINT) AS n_frames
        |FROM c ORDER BY doc_id""".stripMargin)),


    // J6+P8+W6+A4+A10 — the host-match stage (§3.4, host_rematch.py:153-190)
    // as one relational query: per-speaker budgeted duration (W6 prefix),
    // host×speaker cross scoring (J6) with deterministic integer scores,
    // threshold accept (P8), per-host rollup with proportions (A10).
    // suppliers ≈ speakers, regions ≈ hosts, nations ≈ files.
    Q("hm_host_match",
      (s, dir) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("cents").desc, col("l_orderkey"), col("l_linenumber"))
        val budget = Tables.lineitem(s, dir)
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice") * 100d).cast("long").as("cents"))
          .withColumn("cum", sum(col("cents"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("cum") <= 20000000L)
          .groupBy(col("l_suppkey")).agg(sum(col("cents")).as("dur"))
        val spk = Tables.supplier(s, dir)
          .join(budget, col("s_suppkey") === col("l_suppkey"))
          .select(col("s_suppkey"), col("s_nationkey"), col("dur"))
        val scored = spk.crossJoin(broadcast(Tables.region(s, dir)))
          .withColumn("score_e2",
            (col("s_suppkey") * 7L + col("r_regionkey").cast("long") * 13L) % 100L)
          .filter(col("score_e2") > 50L)
        val hostTotals = scored.groupBy(col("s_nationkey"), col("r_name"))
          .agg(sum(col("dur")).as("host_total"), count(lit(1)).as("n_matched"))
        val nationTotals = spk.groupBy(col("s_nationkey"))
          .agg(sum(col("dur")).as("nation_total"))
        hostTotals.join(nationTotals, "s_nationkey")
          .withColumn("proportion",
            col("host_total").cast("double") / col("nation_total").cast("double"))
          .select(col("s_nationkey").cast("long").as("nationkey"), col("r_name"),
            col("host_total"), col("n_matched"), col("proportion"))
          .orderBy(col("nationkey"), col("r_name"))
      },
      Some("""WITH b AS (SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
        |c AS (SELECT l_suppkey, cents,
        |  CAST(SUM(cents) OVER (PARTITION BY l_suppkey
        |    ORDER BY cents DESC, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM b),
        |d AS (SELECT l_suppkey, CAST(SUM(cents) AS BIGINT) AS dur FROM c
        |  WHERE cum <= 20000000 GROUP BY l_suppkey),
        |spk AS (SELECT s_suppkey, s_nationkey, dur FROM supplier
        |  JOIN d ON s_suppkey = l_suppkey),
        |sc AS (SELECT s_suppkey, s_nationkey, dur, r_name,
        |  (s_suppkey * 7 + CAST(r_regionkey AS BIGINT) * 13) % 100 AS score_e2
        |  FROM spk CROSS JOIN region),
        |acc AS (SELECT * FROM sc WHERE score_e2 > 50),
        |ht AS (SELECT s_nationkey, r_name, CAST(SUM(dur) AS BIGINT) AS host_total,
        |  COUNT(*) AS n_matched FROM acc GROUP BY s_nationkey, r_name),
        |nt AS (SELECT s_nationkey, CAST(SUM(dur) AS BIGINT) AS nation_total
        |  FROM spk GROUP BY s_nationkey)
        |SELECT CAST(ht.s_nationkey AS BIGINT) AS nationkey, ht.r_name, ht.host_total,
        |  ht.n_matched,
        |  CAST(ht.host_total AS DOUBLE) / CAST(nt.nation_total AS DOUBLE) AS proportion
        |FROM ht JOIN nt ON nt.s_nationkey = ht.s_nationkey
        |ORDER BY nationkey, r_name""".stripMargin)),


    // A6+J3+J5 composed — the local→global speaker remap trace
    // (speaker_rematch.py:211-261): longest segment per local speaker
    // (A6 argmax), max-overlap argmax against the global segments (J3),
    // then the broadcast mapping relabels every segment, dropping
    // unmapped locals (J5 inner join). Locals = event_type intervals;
    // globals = the W1 merged chunks with session_id as the global label.
    Q("rematch_remap",
      (s, dir) => {
        val i = Tables.eventIntervals(s, dir)
        val longest = i.withColumn("rn", row_number().over(
            Window.partitionBy(col("user_id"), col("event_type"))
              .orderBy((col("e_us") - col("s_us")).desc, col("event_id"))))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("s_us"), col("e_us"))
        val ch = chunks(s, dir)
          .select(col("user_id"), col("session_id"), col("start_us"), col("end_us"))
        val mapping = SegmentOps.maxOverlapJoin(
            longest, ch, "user_id", "event_type", "session_id",
            "s_us", "e_us", "start_us", "end_us")
          .select(col("l.user_id").as("user_id"),
            col("l.event_type").as("local_speaker"),
            col("r.session_id").as("global_speaker"))
        // no broadcast hint: the mapping scales with #files × #speakers,
        // so let AQE broadcast it only while it is actually small
        i.select(col("user_id"), col("event_id"), col("event_type").as("local_speaker"))
          .join(mapping, Seq("user_id", "local_speaker"))
          .select(col("user_id"), col("event_id"), col("local_speaker"),
            col("global_speaker"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some(s"""WITH $chunksSqlCte,
        |lg AS (SELECT user_id, event_type, event_id, s_us, e_us,
        |  row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY e_us - s_us DESC, event_id) AS rn FROM i),
        |longest AS (SELECT user_id, event_type, s_us, e_us FROM lg WHERE rn = 1),
        |ov AS (SELECT l.user_id AS user_id, l.event_type AS local_speaker,
        |  ch.session_id AS global_speaker,
        |  least(l.e_us, ch.end_us) - greatest(l.s_us, ch.start_us) AS overlap
        |  FROM longest l JOIN ch ON ch.user_id = l.user_id
        |    AND l.s_us < ch.end_us AND ch.start_us < l.e_us),
        |mr AS (SELECT user_id, local_speaker, global_speaker,
        |  row_number() OVER (PARTITION BY user_id, local_speaker
        |    ORDER BY overlap DESC, global_speaker) AS rn
        |  FROM ov WHERE overlap > 0),
        |mapping AS (SELECT user_id, local_speaker, global_speaker FROM mr WHERE rn = 1)
        |SELECT i.user_id AS user_id, i.event_id AS event_id,
        |  i.event_type AS local_speaker, m.global_speaker AS global_speaker
        |FROM i JOIN mapping m ON m.user_id = i.user_id AND m.local_speaker = i.event_type
        |ORDER BY user_id, event_id""".stripMargin)),


    // The speaker_mapping map artifact itself (speaker_rematch.py:236-261).
    Q("rematch_mapping",
      (s, dir) => {
        val i = Tables.eventIntervals(s, dir)
        val longest = i.withColumn("rn", row_number().over(
            Window.partitionBy(col("user_id"), col("event_type"))
              .orderBy((col("e_us") - col("s_us")).desc, col("event_id"))))
          .filter(col("rn") === 1)
        val ch = chunks(s, dir)
          .select(col("user_id"), col("session_id"), col("start_us"), col("end_us"))
        SegmentOps.maxOverlapJoin(
            longest, ch, "user_id", "event_type", "session_id",
            "s_us", "e_us", "start_us", "end_us")
          .select(col("l.user_id").as("user_id"),
            col("l.event_type").as("local_speaker"),
            col("r.session_id").as("global_speaker"))
          .orderBy(col("user_id"), col("local_speaker"))
      },
      Some(s"""WITH $chunksSqlCte,
        |lg AS (SELECT user_id, event_type, event_id, s_us, e_us,
        |  row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY e_us - s_us DESC, event_id) AS rn FROM i),
        |longest AS (SELECT user_id, event_type, s_us, e_us FROM lg WHERE rn = 1),
        |ov AS (SELECT l.user_id AS user_id, l.event_type AS local_speaker,
        |  ch.session_id AS global_speaker,
        |  least(l.e_us, ch.end_us) - greatest(l.s_us, ch.start_us) AS overlap
        |  FROM longest l JOIN ch ON ch.user_id = l.user_id
        |    AND l.s_us < ch.end_us AND ch.start_us < l.e_us),
        |mr AS (SELECT user_id, local_speaker, global_speaker,
        |  row_number() OVER (PARTITION BY user_id, local_speaker
        |    ORDER BY overlap DESC, global_speaker) AS rn
        |  FROM ov WHERE overlap > 0)
        |SELECT user_id, local_speaker, global_speaker FROM mr WHERE rn = 1
        |ORDER BY user_id, local_speaker""".stripMargin)),

    // L155 — WORD ERROR RATE over minted (ref, hyp) transcript pairs:
    // ref = the doc's first 40 tokens, hyp = the deterministic
    // corruption both engines mint identically (1-based position
    // i%7==4 deleted, i%5==3 suffixed 'x' — substitutions AND
    // deletions, so WER exercises both edit kinds). Word-level
    // distance runs as CHARACTER levenshtein over per-pair
    // single-code-point encodings (see TextOps.wordErrorRate); the
    // oracle encodes with the same sorted pair dictionary and DuckDB's
    // levenshtein.
    Q("m_wer",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        val ref = slice(toks, 1, 40)
        val wi = transform(sequence(lit(1), size(ref)),
          i => struct(element_at(ref, i).as("w"), i.as("i")))
        val hyp = transform(
          filter(wi, s => pmod(s("i"), lit(7)) =!= 4),
          s => when(pmod(s("i"), lit(5)) === 3, concat(s("w"), lit("x")))
            .otherwise(s("w")))
        val pairs = Tables.documents(s, dir)
          .filter(size(toks) > 0)
          .select(col("doc_id"), ref.as("ref"), hyp.as("hyp"))
        TextOps.wordErrorRate(pairs, "doc_id", "ref", "hyp")
          .orderBy(col("doc_id"))
      },
      Some(werOracleSql)),

    // L156∘L155 — the WER COMPOSITION closed: chunkUtterances splits
    // every transcript into <=100-token utterances (the reference
    // evaluates per VAD segment, whisper_asr.py:171-178), so the
    // per-pair dictionary is bounded <200 BY CONSTRUCTION and no row
    // can take the dist=-1 flag path — unlike m_wer above, which caps
    // ref at 40 tokens to stay encodable. Same deterministic
    // corruption (delete every 7th word, suffix every 5th).
    Q("m_wer_chunked",
      (s, dir) => {
        val utts = TextOps.chunkUtterances(
          Tables.documents(s, dir), "doc_id", "text", 100)
        val wi = transform(sequence(lit(1), size(col("utt"))),
          i => struct(element_at(col("utt"), i).as("w"), i.as("i")))
        val hyp = transform(
          filter(wi, st => pmod(st("i"), lit(7)) =!= 4),
          st => when(pmod(st("i"), lit(5)) === 3, concat(st("w"), lit("x")))
            .otherwise(st("w")))
        val pairs = utts.select(
          (col("doc_id") * 10000L + col("utt_id")).as("utt_key"),
          col("utt").as("ref"), hyp.as("hyp"))
        TextOps.wordErrorRate(pairs, "utt_key", "ref", "hyp")
          .orderBy(col("utt_key"))
      },
      Some(s"""WITH $toksSqlCte,
        |u AS (SELECT doc_id, toks,
        |    unnest(range((len(toks) - 1) // 100 + 1)) AS utt_id
        |  FROM d WHERE len(toks) > 0),
        |base AS (SELECT doc_id * 10000 + utt_id AS utt_key,
        |    toks[CAST(utt_id * 100 + 1 AS INTEGER):CAST(utt_id * 100 + 100 AS INTEGER)] AS ref
        |  FROM u),
        |hy AS (SELECT utt_key, ref,
        |    list_transform(list_filter(
        |      list_transform(range(1, CAST(len(ref) + 1 AS BIGINT)),
        |        i -> {'w': ref[CAST(i AS INTEGER)], 'i': i}),
        |      s -> s['i'] % 7 != 4),
        |      s -> CASE WHEN s['i'] % 5 = 3 THEN s['w'] || 'x' ELSE s['w'] END) AS hyp
        |  FROM base),
        |dic AS (SELECT utt_key, ref, hyp,
        |    list_sort(list_distinct(list_concat(ref, hyp))) AS dict FROM hy),
        |ec AS (SELECT utt_key,
        |    CAST(len(ref) AS BIGINT) AS n_ref, CAST(len(hyp) AS BIGINT) AS n_hyp,
        |    CASE WHEN len(dict) <= 200 THEN CAST(levenshtein(
        |      list_reduce(list_transform(ref,
        |        w -> chr(CAST(list_position(dict, w) + 47 AS INTEGER))), (a, b) -> a || b),
        |      list_reduce(list_transform(hyp,
        |        w -> chr(CAST(list_position(dict, w) + 47 AS INTEGER))), (a, b) -> a || b))
        |      AS BIGINT) ELSE -1 END AS dist
        |  FROM dic)
        |SELECT utt_key, n_ref, n_hyp, dist,
        |  CASE WHEN dist >= 0 AND n_ref > 0
        |    THEN CAST(dist AS DOUBLE) / CAST(n_ref AS DOUBLE)
        |    ELSE -1.0 END AS wer
        |FROM ec ORDER BY utt_key""".stripMargin)),

    // L158 — diarization error rate (NIST, optimal speaker mapping via
    // the 24-permutation lattice — the reference diarizer is 4-speaker,
    // sortformer_diar_4spk-v2.yaml). Minted ref/hyp segment streams in
    // exact integer micros exercise every DER leg: id%3 shifts the hyp
    // (miss+fa), id%4==0 drops a segment (miss), id%5==0 mislabels ONE
    // segment (confusion — which the optimal mapping must NOT undo
    // because the other diagonals pin the permutation, EXCEPT when the
    // dropped segment freed that speaker: id%20==0 exercises the
    // non-identity optimum). id%13==7 files carry hypothesis speech
    // but NO reference speech (a diarizer hallucinating into silence):
    // their FA time must surface as a t_ref=0 / der=-1 row, not vanish.
    Q("m_der",
      (s, dir) => {
        val ids = Tables.events(s, dir)
          .select(col("event_id").cast("long").as("id"))
          .filter(col("id") < 200).distinct()
        val ks = ids.select(col("id"),
          explode(sequence(lit(0L), lit(3L))).as("k"))
        val ref = ks.filter(pmod(col("id"), lit(13L)) =!= 7L).select(col("id"),
          (col("k") * 10000000L).as("s"),
          (col("k") * 10000000L + 6000000L).as("e"),
          pmod(col("k") + col("id"), lit(4L)).as("spk"))
        val hyp = ks
          .filter(!(pmod(col("id"), lit(4L)) === 0L && col("k") === 3L))
          .withColumn("sh", pmod(col("id"), lit(3L)) * 500000L)
          .select(col("id"),
            (col("k") * 10000000L + col("sh")).as("s"),
            (col("k") * 10000000L + 6000000L + col("sh")).as("e"),
            pmod(col("k") + col("id")
              + when(pmod(col("id"), lit(5L)) === 0L && col("k") === 2L, 1L)
                .otherwise(0L), lit(4L)).as("spk"))
        EvalOps.diarizationErrorRate(ref, hyp, "id", "s", "e", "spk")
          .orderBy(col("file"))
      },
      Some(s"""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 200),
        |kk AS (SELECT id, unnest(range(4)) AS k FROM ids),
        |ref AS (SELECT id, k * 10000000 AS s, k * 10000000 + 6000000 AS e,
        |    (k + id) % 4 AS spk FROM kk WHERE id % 13 != 7),
        |hyp AS (SELECT id, k * 10000000 + (id % 3) * 500000 AS s,
        |    k * 10000000 + 6000000 + (id % 3) * 500000 AS e,
        |    (k + id + CASE WHEN id % 5 = 0 AND k = 2 THEN 1 ELSE 0 END) % 4 AS spk
        |  FROM kk WHERE NOT (id % 4 = 0 AND k = 3)),
        |c AS (SELECT r.id, r.spk AS kr, h.spk AS kh,
        |    CAST(SUM(least(r.e, h.e) - greatest(r.s, h.s)) AS BIGINT) AS ov
        |  FROM ref r JOIN hyp h ON h.id = r.id AND r.s < h.e AND h.s < r.e
        |  GROUP BY r.id, r.spk, h.spk),
        |tb AS (SELECT id, CAST(SUM(ov) AS BIGINT) AS t_both FROM c GROUP BY id),
        |perms(perm_id, kr, kh) AS (VALUES $derPermValues),
        |cor AS (SELECT c.id, p.perm_id, CAST(SUM(c.ov) AS BIGINT) AS cor
        |  FROM c JOIN perms p ON p.kr = c.kr AND p.kh = c.kh
        |  GROUP BY c.id, p.perm_id),
        |bc AS (SELECT id, MAX(cor) AS t_correct FROM cor GROUP BY id),
        |tr AS (SELECT id, CAST(SUM(e - s) AS BIGINT) AS t_ref FROM ref GROUP BY id),
        |th AS (SELECT id, CAST(SUM(e - s) AS BIGINT) AS t_hyp FROM hyp GROUP BY id),
        |j AS (SELECT id, coalesce(t_ref, 0) AS t_ref,
        |    coalesce(t_hyp, 0) AS t_hyp, coalesce(t_both, 0) AS t_both,
        |    coalesce(t_correct, 0) AS t_correct
        |  FROM tr FULL OUTER JOIN th USING (id) LEFT JOIN tb USING (id)
        |  LEFT JOIN bc USING (id))
        |SELECT id AS file, t_ref, t_hyp, t_both, t_correct,
        |  t_ref - t_both AS t_miss, t_hyp - t_both AS t_fa,
        |  t_both - t_correct AS t_conf,
        |  CASE WHEN t_ref > 0 THEN
        |    CAST((t_ref - t_both) + (t_hyp - t_both) + (t_both - t_correct)
        |      AS DOUBLE) / CAST(t_ref AS DOUBLE)
        |  ELSE -1.0 END AS der
        |FROM j ORDER BY file""".stripMargin))
  ) :+ cpwerEntry :+ turnsEntry :+ derConfusionEntry :+ eceEntry :+ eerEntry :+ aucEntry :+ spanDetectEntry :+ brierEntry :+ cueAlignEntry

  /** L191 — span detection P/R/F1 at IoU ≥ 0.5 over the SAME minted
    * streams as m_der (including the id%13==7 hyp-only files, which
    * emit n_ref=0 rows with recall −1): the id%3 shift leaves IoU =
    * (6−shift)/(6+shift) ≥ 0.5 for every shift here, the dropped
    * id%4==0 segment costs recall, the mislabel doesn't matter —
    * detection is label-blind.
    */
  private def spanDetectEntry: Q =
    Q("m_span_detect",
      (s, dir) => {
        val ids = Tables.events(s, dir)
          .select(col("event_id").cast("long").as("id"))
          .filter(col("id") < 200).distinct()
        val ks = ids.select(col("id"),
          explode(sequence(lit(0L), lit(3L))).as("k"))
        val ref = ks.filter(pmod(col("id"), lit(13L)) =!= 7L).select(col("id"),
          (col("k") * 10000000L).as("s"),
          (col("k") * 10000000L + 6000000L).as("e"))
        val hyp = ks
          .filter(!(pmod(col("id"), lit(4L)) === 0L && col("k") === 3L))
          .withColumn("sh", pmod(col("id"), lit(3L)) * 500000L)
          .select(col("id"),
            (col("k") * 10000000L + col("sh")).as("s"),
            (col("k") * 10000000L + 6000000L + col("sh")).as("e"))
        EvalOps.spanDetection(ref, hyp, "id", "s", "e", tauE6 = 500000L)
          .orderBy(col("file"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 200),
        |kk AS (SELECT id, unnest(range(4)) AS k FROM ids),
        |ref AS (SELECT id, k * 10000000 AS s, k * 10000000 + 6000000 AS e
        |  FROM kk WHERE id % 13 != 7),
        |hyp AS (SELECT id, k * 10000000 + (id % 3) * 500000 AS s,
        |    k * 10000000 + 6000000 + (id % 3) * 500000 AS e
        |  FROM kk WHERE NOT (id % 4 = 0 AND k = 3)),
        |p AS (SELECT r.id, r.s AS sr, r.e AS er, h.s AS sh, h.e AS eh,
        |    least(r.e, h.e) - greatest(r.s, h.s) AS inter,
        |    (r.e - r.s) + (h.e - h.s)
        |      - (least(r.e, h.e) - greatest(r.s, h.s)) AS un
        |  FROM ref r JOIN hyp h ON h.id = r.id AND r.s < h.e AND h.s < r.e),
        |m AS (SELECT * FROM p WHERE inter * 1000000 >= 500000 * un),
        |cov AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_cov
        |  FROM (SELECT DISTINCT id, sr, er FROM m) GROUP BY 1),
        |det AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_det
        |  FROM (SELECT DISTINCT id, sh, eh FROM m) GROUP BY 1),
        |nr AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_ref FROM ref GROUP BY 1),
        |nh AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_hyp FROM hyp GROUP BY 1),
        |j AS (SELECT id, coalesce(n_ref, 0) AS n_ref, coalesce(n_hyp, 0) AS n_hyp,
        |    coalesce(n_cov, 0) AS n_cov, coalesce(n_det, 0) AS n_det
        |  FROM nr FULL OUTER JOIN nh USING (id)
        |  LEFT JOIN cov USING (id) LEFT JOIN det USING (id))
        |SELECT id AS file, n_ref, n_hyp, n_cov, n_det,
        |  CASE WHEN n_hyp > 0 THEN CAST(n_det AS DOUBLE) / CAST(n_hyp AS DOUBLE)
        |    ELSE -1.0 END AS precision,
        |  CASE WHEN n_ref > 0 THEN CAST(n_cov AS DOUBLE) / CAST(n_ref AS DOUBLE)
        |    ELSE -1.0 END AS recall,
        |  CASE WHEN n_det * n_ref + n_cov * n_hyp > 0
        |    THEN CAST(n_det * n_cov * 2 AS DOUBLE)
        |      / CAST(n_det * n_ref + n_cov * n_hyp AS DOUBLE)
        |    ELSE -1.0 END AS f1
        |FROM j ORDER BY file""".stripMargin))

  /** L184 — exact ROC-AUC over the SAME minted trials as m_eer: the
    * threshold-free counterpart (Mann–Whitney U over the distinct-
    * score histogram, ties at half weight via the 2× numerator).
    */
  private def aucEntry: Q =
    Q("m_auc",
      (s, dir) => EvalOps.rocAuc(
          Tables.documents(s, dir).select(
            when(col("doc_id") % 3 === 0,
              lit(300000L) + col("doc_id") * 7919L % 700001L)
              .otherwise(col("doc_id") * 6151L % 800001L).as("score_e6"),
            when(col("doc_id") % 3 === 0, 1L).otherwise(0L).as("y")),
          col("score_e6"), col("y")),
      Some("""WITH tr AS (SELECT CAST(CASE WHEN doc_id % 3 = 0
        |      THEN 300000 + (doc_id * 7919) % 700001
        |      ELSE (doc_id * 6151) % 800001 END AS BIGINT) AS s,
        |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |per AS (SELECT s, CAST(SUM(y) AS BIGINT) AS tar,
        |    CAST(SUM(1 - y) AS BIGINT) AS non FROM tr GROUP BY s),
        |c AS (SELECT s, tar, non, coalesce(SUM(non) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
        |  FROM per),
        |n2 AS (SELECT CAST(coalesce(SUM(tar * (nb * 2 + non)), 0) AS BIGINT)
        |    AS auc_num2 FROM c),
        |tot AS (SELECT CAST(SUM(y) AS BIGINT) AS n_target,
        |    CAST(SUM(1 - y) AS BIGINT) AS n_nontarget FROM tr)
        |SELECT n_target, n_nontarget, auc_num2,
        |  CASE WHEN n_target > 0 AND n_nontarget > 0
        |    THEN CAST(auc_num2 AS DOUBLE)
        |      / CAST(n_target * n_nontarget * 2 AS DOUBLE)
        |    ELSE -1.0 END AS auc
        |FROM n2 CROSS JOIN tot""".stripMargin))

  /** L181 — calibration bins / ECE components: minted e6 scores with a
    * label whose hit-rate tracks the score (a roughly-calibrated
    * classifier), so the reliability table is non-trivial in every
    * bin; all counts exact.
    */
  private def eceEntry: Q =
    Q("m_ece",
      (s, dir) => EvalOps.calibrationBins(
          Tables.documents(s, dir).select(
            (col("doc_id") * 7919L % 1000001L).as("score_e6"),
            when(col("doc_id") * 104729L % 1000001L
              < col("doc_id") * 7919L % 1000001L, 1L).otherwise(0L).as("y")),
          col("score_e6"), col("y"), nBins = 10)
        .orderBy(col("bin")),
      Some(eceOracleSql))

  /** L212 — Brier score + Murphy decomposition over the SAME minted
    * forecaster as m_ece: REL − RES + UNC from the e6-floored bin
    * means, every component an exact integer, one pass + one ≤ 10-row
    * agg.
    */
  private def brierEntry: Q =
    Q("m_brier",
      (s, dir) => EvalOps.brierDecomposition(
          Tables.documents(s, dir).select(
            (col("doc_id") * 7919L % 1000001L).as("score_e6"),
            when(col("doc_id") * 104729L % 1000001L
              < col("doc_id") * 7919L % 1000001L, 1L).otherwise(0L).as("y")),
          col("score_e6"), col("y"), nBins = 10),
      Some("""WITH sc AS (SELECT (doc_id * 7919) % 1000001 AS s,
        |    CASE WHEN (doc_id * 104729) % 1000001 < (doc_id * 7919) % 1000001
        |      THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |b AS (SELECT s, y, least(s // 100000, 9) AS bin FROM sc),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(y) AS sum_y,
        |    SUM((s - y * 1000000) * (s - y * 1000000)) AS ssq FROM b),
        |bins AS (SELECT bin, COUNT(*) AS nk, SUM(s) AS sp, SUM(y) AS sy
        |  FROM b GROUP BY 1),
        |c AS (SELECT tot.n, tot.ssq,
        |    (tot.sum_y * 1000000) // tot.n AS ybar_e6,
        |    bins.nk, bins.sp // bins.nk AS pbar_k,
        |    (bins.sy * 1000000) // bins.nk AS ybar_k
        |  FROM bins CROSS JOIN tot),
        |a AS (SELECT CAST(MIN(n) AS BIGINT) AS n, MIN(ssq) AS ssq,
        |    CAST(MIN(ybar_e6) AS BIGINT) AS ybar_e6,
        |    SUM(nk * (pbar_k - ybar_k) * (pbar_k - ybar_k)) AS reln,
        |    SUM(nk * (ybar_k - ybar_e6) * (ybar_k - ybar_e6)) AS resn
        |  FROM c)
        |SELECT n, CAST(ssq // n AS BIGINT) AS brier_e12, ybar_e6,
        |  CAST(reln // n AS BIGINT) AS rel_e12,
        |  CAST(resn // n AS BIGINT) AS res_e12,
        |  CAST(ybar_e6 * (1000000 - ybar_e6) AS BIGINT) AS unc_e12
        |FROM a""".stripMargin))

  /** L182 — EER bracket over minted verification trials: target scores
    * sit 300000..1000000, non-target 0..800000 — a 300000..800000
    * overlap band, so the crossing is interior and both bracket rows
    * are real thresholds with nonzero FA and FR.
    */
  private def eerEntry: Q =
    Q("m_eer",
      (s, dir) => EvalOps.eerBracket(
          Tables.documents(s, dir).select(
            when(col("doc_id") % 3 === 0,
              lit(300000L) + col("doc_id") * 7919L % 700001L)
              .otherwise(col("doc_id") * 6151L % 800001L).as("score_e6"),
            when(col("doc_id") % 3 === 0, 1L).otherwise(0L).as("y")),
          col("score_e6"), col("y")),
      Some("""WITH tr AS (SELECT CAST(CASE WHEN doc_id % 3 = 0
        |      THEN 300000 + (doc_id * 7919) % 700001
        |      ELSE (doc_id * 6151) % 800001 END AS BIGINT) AS s,
        |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |per AS (SELECT s, CAST(SUM(y) AS BIGINT) AS tar,
        |    CAST(SUM(1 - y) AS BIGINT) AS non FROM tr GROUP BY s),
        |alls AS (SELECT * FROM per
        |  UNION ALL SELECT MAX(s) + 1, 0, 0 FROM per),
        |tot AS (SELECT CAST(SUM(y) AS BIGINT) AS n_target,
        |    CAST(SUM(1 - y) AS BIGINT) AS n_nontarget FROM tr),
        |cur AS (SELECT s,
        |    coalesce(SUM(tar) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS fr,
        |    (SELECT n_nontarget FROM tot) - coalesce(SUM(non) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS fa
        |  FROM alls),
        |lg AS (SELECT s, fa, fr, lag(s) OVER (ORDER BY s) AS thr_lo,
        |    lag(fa) OVER (ORDER BY s) AS fa_lo,
        |    lag(fr) OVER (ORDER BY s) AS fr_lo FROM cur),
        |x AS (SELECT * FROM lg WHERE fa <= fr ORDER BY s LIMIT 1)
        |SELECT (SELECT n_target FROM tot) AS n_target,
        |  (SELECT n_nontarget FROM tot) AS n_nontarget,
        |  CAST(coalesce(thr_lo, -1) AS BIGINT) AS thr_lo,
        |  CAST(coalesce(fa_lo, -1) AS BIGINT) AS fa_lo,
        |  CAST(coalesce(fr_lo, -1) AS BIGINT) AS fr_lo,
        |  CAST(s AS BIGINT) AS thr_hi, CAST(fa AS BIGINT) AS fa_hi,
        |  CAST(fr AS BIGINT) AS fr_hi
        |FROM x""".stripMargin))

  /** The ≤24-permutation assignment lattice VALUES literal, generated
    * from the SAME enumeration `EvalOps.diarizationErrorRate`
    * broadcasts, so engine and mirror can never score different
    * mappings.
    */
  private def derPermValues: String =
    EvalOps.permRows(4).map { case (pid, r, h) => s"($pid,$r,$h)" }
      .mkString(",")

  /** L161 — cpWER: per-speaker transcript slices of each document,
    * hypothesis labels ROTATED by doc_id (the diarizer's arbitrary
    * label assignment) plus the m_wer word corruption; the metric must
    * find the rotation among the 6 mappings and report only the
    * corruption edits — diarization relabeling is not an ASR error.
    * doc_id%4==0 files LOSE hypothesis label 2 (the diarizer merged a
    * voice away — the failure cpWER exists to price): the reference
    * transcript left unpaired under each mapping must cost its full
    * word count as deletions, never silently improve the score.
    */
  private def cpwerEntry: Q =
    Q("m_cpwer",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        val docs = Tables.documents(s, dir).filter(size(toks) > 0)
          .select(col("doc_id"), toks.as("toks"))
        val sp = docs.select(col("doc_id"),
          explode(sequence(lit(0), lit(2))).as("spk"), col("toks"))
        val refs = sp.select(col("doc_id"), col("spk"),
          expr("slice(toks, spk * 15 + 1, 12)").as("words"))
        val rsl = expr("slice(toks, pmod(spk + doc_id, 3) * 15 + 1, 12)")
        val wi = transform(sequence(lit(1), size(col("__rsl"))),
          i => struct(element_at(col("__rsl"), i).as("w"), i.as("i")))
        val corrupted = when(size(col("__rsl")) === 0,
          col("__rsl")).otherwise(transform(
          filter(wi, st => pmod(st("i"), lit(7)) =!= 4),
          st => when(pmod(st("i"), lit(5)) === 3, concat(st("w"), lit("x")))
            .otherwise(st("w"))))
        val hyps = sp.withColumn("__rsl", rsl)
          .withColumn("words", corrupted)
          .filter(!(pmod(col("doc_id"), lit(4L)) === 0L && col("spk") === 2))
          .select(col("doc_id"), col("spk"), col("words"))
        EvalOps.cpWer(refs, hyps, "doc_id", "spk", "words", maxSpeakers = 3)
          .orderBy(col("file"))
      },
      Some(s"""WITH $toksSqlCte,
        |base AS (SELECT doc_id, toks FROM d WHERE len(toks) > 0),
        |sp AS (SELECT doc_id, toks, unnest(range(3)) AS spk FROM base),
        |refs AS (SELECT doc_id, spk,
        |    toks[CAST(spk * 15 + 1 AS INTEGER):CAST(spk * 15 + 12 AS INTEGER)] AS rw
        |  FROM sp),
        |rot AS (SELECT doc_id, spk,
        |    toks[CAST(((spk + doc_id) % 3) * 15 + 1 AS INTEGER):CAST(((spk + doc_id) % 3) * 15 + 12 AS INTEGER)] AS rsl
        |  FROM sp),
        |hyps AS (SELECT doc_id, spk,
        |    list_transform(list_filter(
        |      list_transform(range(1, CAST(len(rsl) + 1 AS BIGINT)),
        |        i -> {'w': rsl[CAST(i AS INTEGER)], 'i': i}),
        |      s -> s['i'] % 7 != 4),
        |      s -> CASE WHEN s['i'] % 5 = 3 THEN s['w'] || 'x' ELSE s['w'] END) AS hw
        |  FROM rot WHERE NOT (doc_id % 4 = 0 AND spk = 2)),
        |perms(perm_id, kr, kh) AS (VALUES $cpwerPermValues),
        |refm AS (SELECT r.doc_id, p.perm_id, p.kh, r.rw
        |  FROM refs r JOIN perms p ON p.kr = r.spk),
        |hypm AS (SELECT h.doc_id, pid.perm_id, h.spk AS kh, h.hw
        |  FROM hyps h CROSS JOIN (SELECT DISTINCT perm_id FROM perms) pid),
        |pairs AS (SELECT doc_id, perm_id, kh,
        |    coalesce(rw, CAST([] AS VARCHAR[])) AS rw,
        |    coalesce(hw, CAST([] AS VARCHAR[])) AS hw
        |  FROM refm FULL OUTER JOIN hypm USING (doc_id, perm_id, kh)),
        |dic AS (SELECT doc_id, perm_id, rw, hw,
        |    list_sort(list_distinct(list_concat(rw, hw))) AS dict FROM pairs),
        |ec AS (SELECT doc_id, perm_id,
        |    CAST(len(rw) AS BIGINT) AS n_ref,
        |    CASE WHEN len(dict) <= 200 THEN CAST(levenshtein(
        |      list_reduce(list_prepend('', list_transform(rw,
        |        w -> chr(CAST(list_position(dict, w) + 47 AS INTEGER)))), (a, b) -> a || b),
        |      list_reduce(list_prepend('', list_transform(hw,
        |        w -> chr(CAST(list_position(dict, w) + 47 AS INTEGER)))), (a, b) -> a || b))
        |      AS BIGINT) ELSE -1 END AS dist
        |  FROM dic),
        |pm AS (SELECT doc_id, perm_id,
        |    CAST(SUM(n_ref) AS BIGINT) AS n_ref,
        |    CASE WHEN MIN(dist) < 0 THEN CAST(-1 AS BIGINT)
        |      ELSE CAST(SUM(dist) AS BIGINT) END AS dd
        |  FROM ec GROUP BY doc_id, perm_id),
        |bst AS (SELECT doc_id, MAX(n_ref) AS n_ref,
        |    coalesce(MIN(CASE WHEN dd >= 0 THEN dd END), -1) AS best_dist
        |  FROM pm GROUP BY doc_id)
        |SELECT doc_id AS file, n_ref, best_dist,
        |  CASE WHEN best_dist >= 0 AND n_ref > 0
        |    THEN CAST(best_dist AS DOUBLE) / CAST(n_ref AS DOUBLE)
        |    ELSE -1.0 END AS cpwer
        |FROM bst ORDER BY file""".stripMargin))

  private def cpwerPermValues: String =
    EvalOps.permRows(3).map { case (pid, r, h) => s"($pid,$r,$h)" }
      .mkString(",")

  /** L174 — per-speaker confusion under the chosen optimal mapping,
    * over the SAME minted streams as m_der: the diagnostic showing
    * which reference speaker lost time to confusion (the id%5
    * mislabeled segment) vs shift-miss vs the dropped segment. The
    * id%13==7 hyp-only files have no per-ref-speaker row by definition
    * (their FA time surfaces in m_der's t_ref=0 rows).
    */
  private def derConfusionEntry: Q =
    Q("m_der_confusion",
      (s, dir) => {
        val ids = Tables.events(s, dir)
          .select(col("event_id").cast("long").as("id"))
          .filter(col("id") < 200).distinct()
        val ks = ids.select(col("id"),
          explode(sequence(lit(0L), lit(3L))).as("k"))
        val ref = ks.filter(pmod(col("id"), lit(13L)) =!= 7L).select(col("id"),
          (col("k") * 10000000L).as("s"),
          (col("k") * 10000000L + 6000000L).as("e"),
          pmod(col("k") + col("id"), lit(4L)).as("spk"))
        val hyp = ks
          .filter(!(pmod(col("id"), lit(4L)) === 0L && col("k") === 3L))
          .withColumn("sh", pmod(col("id"), lit(3L)) * 500000L)
          .select(col("id"),
            (col("k") * 10000000L + col("sh")).as("s"),
            (col("k") * 10000000L + 6000000L + col("sh")).as("e"),
            pmod(col("k") + col("id")
              + when(pmod(col("id"), lit(5L)) === 0L && col("k") === 2L, 1L)
                .otherwise(0L), lit(4L)).as("spk"))
        EvalOps.speakerConfusion(ref, hyp, "id", "s", "e", "spk")
          .orderBy(col("file"), col("spk_ref"))
      },
      Some(s"""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 200),
        |kk AS (SELECT id, unnest(range(4)) AS k FROM ids),
        |ref AS (SELECT id, k * 10000000 AS s, k * 10000000 + 6000000 AS e,
        |    (k + id) % 4 AS spk FROM kk WHERE id % 13 != 7),
        |hyp AS (SELECT id, k * 10000000 + (id % 3) * 500000 AS s,
        |    k * 10000000 + 6000000 + (id % 3) * 500000 AS e,
        |    (k + id + CASE WHEN id % 5 = 0 AND k = 2 THEN 1 ELSE 0 END) % 4 AS spk
        |  FROM kk WHERE NOT (id % 4 = 0 AND k = 3)),
        |c AS (SELECT r.id, r.spk AS kr, h.spk AS kh,
        |    CAST(SUM(least(r.e, h.e) - greatest(r.s, h.s)) AS BIGINT) AS ov
        |  FROM ref r JOIN hyp h ON h.id = r.id AND r.s < h.e AND h.s < r.e
        |  GROUP BY r.id, r.spk, h.spk),
        |perms(perm_id, kr, kh) AS (VALUES $derPermValues),
        |cor AS (SELECT c.id, p.perm_id, CAST(SUM(c.ov) AS BIGINT) AS cor
        |  FROM c JOIN perms p ON p.kr = c.kr AND p.kh = c.kh
        |  GROUP BY c.id, p.perm_id),
        |bst AS (SELECT id, perm_id FROM (SELECT id, perm_id,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY cor DESC, perm_id) AS rn
        |  FROM cor) WHERE rn = 1),
        |ch AS (SELECT b.id, p.kr, p.kh AS spk_mapped
        |  FROM bst b JOIN perms p USING (perm_id)),
        |tr AS (SELECT id, spk AS kr, CAST(SUM(e - s) AS BIGINT) AS t_spk_ref
        |  FROM ref GROUP BY id, spk),
        |po AS (SELECT id, kr, CAST(SUM(ov) AS BIGINT) AS t_overlap
        |  FROM c GROUP BY id, kr),
        |mt AS (SELECT c.id, c.kr, c.ov AS t_matched FROM c
        |  JOIN ch ON ch.id = c.id AND ch.kr = c.kr AND ch.spk_mapped = c.kh)
        |SELECT tr.id AS file, CAST(tr.kr AS BIGINT) AS spk_ref,
        |  CAST(coalesce(ch.spk_mapped, -1) AS BIGINT) AS spk_mapped,
        |  tr.t_spk_ref,
        |  CAST(coalesce(mt.t_matched, 0) AS BIGINT) AS t_matched,
        |  CAST(coalesce(po.t_overlap, 0) - coalesce(mt.t_matched, 0) AS BIGINT)
        |    AS t_confused,
        |  CAST(tr.t_spk_ref - coalesce(po.t_overlap, 0) AS BIGINT) AS t_missed
        |FROM tr LEFT JOIN ch ON ch.id = tr.id AND ch.kr = tr.kr
        |LEFT JOIN po ON po.id = tr.id AND po.kr = tr.kr
        |LEFT JOIN mt ON mt.id = tr.id AND mt.kr = tr.kr
        |ORDER BY file, spk_ref""".stripMargin))

  /** L167 — speaker-turn statistics over minted diarized segments:
    * 6 segments per file, each overlapping the next by 0.5 s, speaker
    * flipping every two segments — 3 turns, interruptions exactly at
    * the speaker changes.
    */
  private def turnsEntry: Q =
    Q("m_turns",
      (s, dir) => {
        val ids = Tables.events(s, dir)
          .select(col("event_id").cast("long").as("id"))
          .filter(col("id") < 200).distinct()
        val ks = ids.select(col("id"),
          explode(sequence(lit(0L), lit(5L))).as("k"))
        val kid = col("k") + col("id")
        val seg = ks.select(col("id"),
          (col("k") * 8000000L).as("s"),
          (col("k") * 8000000L + 8500000L).as("e"),
          pmod(((kid - pmod(kid, lit(2L))) / 2L).cast("long"), lit(2L))
            .cast("int").as("spk"))
        EvalOps.speakerTurnStats(seg, "id", "s", "e", "spk")
          .orderBy(col("file"))
      },
      Some("""WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
        |  FROM events WHERE event_id < 200),
        |kk AS (SELECT id, unnest(range(6)) AS k FROM ids),
        |seg AS (SELECT id, k * 8000000 AS s, k * 8000000 + 8500000 AS e,
        |    CAST(((k + id) // 2) % 2 AS INTEGER) AS spk FROM kk),
        |lg AS (SELECT id, s, e, spk,
        |    lag(spk) OVER w AS pspk, lag(e) OVER w AS pe
        |  FROM seg WINDOW w AS (PARTITION BY id ORDER BY s, e, spk)),
        |fl AS (SELECT id,
        |    CASE WHEN pspk IS NULL OR pspk <> spk THEN 1 ELSE 0 END AS tb,
        |    CASE WHEN pe > s AND pspk <> spk THEN 1 ELSE 0 END AS ir,
        |    e - s AS dur, spk FROM lg)
        |SELECT id AS file, CAST(COUNT(*) AS BIGINT) AS n_segments,
        |  CAST(SUM(tb) AS BIGINT) AS n_turns,
        |  CAST(COUNT(DISTINCT spk) AS BIGINT) AS n_speakers,
        |  CAST(SUM(dur) AS BIGINT) AS total_speech_us,
        |  CAST(SUM(ir) AS BIGINT) AS n_interruptions,
        |  CASE WHEN SUM(tb) > 0
        |    THEN CAST(SUM(dur) AS DOUBLE) / CAST(SUM(tb) AS DOUBLE)
        |    ELSE -1.0 END AS mean_turn_us
        |FROM fl GROUP BY id ORDER BY file""".stripMargin))

  /** L296 — SRT CUE ↔ DIARIZATION ALIGNMENT: the composite a caption
    * corpus needs before cues become speaker-attributed supervision —
    * cues parse through the REAL SRT grammar (L290), speaker segments
    * tile the timeline from formulas, and each cue takes the speaker
    * of its max-overlap segment via the J3 argmax join (tie → lowest
    * segment id). The oracle replays the join + argmax relationally —
    * an independent window mechanism over the same formula tables.
    */
  private def cueAlignEntry: Q =
    Q("m_cue_align",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 200)
          .select(col("doc_id")).as[Long]
        val cues = base.flatMap { id =>
          import graft.pipeline.Subtitles
          val n = (1 + id % 4).toInt
          val minted = (0 until n).map { j =>
            val startMs = (id % 7) * 500 + j * 3500
            val durMs = 1000 + (id + j) % 3000
            Subtitles.Cue(j + 1, startMs * 1000,
              (startMs + durMs) * 1000, s"c $id $j")
          }
          Subtitles.parseSrt(Subtitles.mintSrt(minted))
            .map(c => (id, c.index.toLong, c.startUs, c.endUs))
        }.toDF("doc_id", "idx", "c_start", "c_end")
        val segs = Tables.documents(s, dir).filter(col("doc_id") < 200)
          .select(col("doc_id"))
          .withColumn("k", explode(sequence(lit(0L), lit(5L))))
          .select(col("doc_id"), col("k").as("seg_id"),
            (col("k") * 4000000L).as("s_start"),
            ((col("k") + 1L) * 4000000L).as("s_end"),
            ((col("doc_id") + col("k")) % 3).as("speaker"))
        SegmentOps.maxOverlapJoin(cues, segs, "doc_id", "idx", "seg_id",
            "c_start", "c_end", "s_start", "s_end")
          .select(col("l.doc_id").as("doc_id"), col("l.idx").as("idx"),
            col("r.speaker").as("speaker"), col("overlap").as("overlap_us"))
          .orderBy(col("doc_id"), col("idx"))
      },
      Some("""WITH cu AS (SELECT doc_id,
        |    unnest(range(0, 1 + doc_id % 4)) AS j
        |  FROM documents WHERE doc_id < 200),
        |c AS (SELECT doc_id, j + 1 AS idx,
        |    ((doc_id % 7) * 500 + j * 3500) * 1000 AS cs,
        |    ((doc_id % 7) * 500 + j * 3500 + 1000 + (doc_id + j) % 3000)
        |      * 1000 AS ce
        |  FROM cu),
        |sg0 AS (SELECT doc_id, unnest(range(0, 6)) AS k
        |  FROM documents WHERE doc_id < 200),
        |sg AS (SELECT doc_id, k AS seg_id, k * 4000000 AS ss,
        |    (k + 1) * 4000000 AS se, (doc_id + k) % 3 AS speaker
        |  FROM sg0),
        |o AS (SELECT c.doc_id AS doc_id, idx, seg_id, speaker,
        |    LEAST(ce, se) - GREATEST(cs, ss) AS ov
        |  FROM c JOIN sg ON c.doc_id = sg.doc_id
        |    AND cs < se AND ss < ce
        |  WHERE LEAST(ce, se) - GREATEST(cs, ss) > 0),
        |rr AS (SELECT doc_id, idx, speaker, ov,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id, idx
        |      ORDER BY ov DESC, seg_id) AS rn
        |  FROM o)
        |SELECT doc_id, CAST(idx AS BIGINT) AS idx,
        |  CAST(speaker AS BIGINT) AS speaker,
        |  CAST(ov AS BIGINT) AS overlap_us
        |FROM rr WHERE rn = 1 ORDER BY doc_id, idx""".stripMargin))
}
