package graft.operators

import org.apache.spark.sql.functions._

import graft.multimodal.MultimodalOps
import graft.operators.AudioFingerprint
import graft.sources.Tables

/** Certification probe for the audio decode path: each document id
  * deterministically synthesizes a PCM16 WAV (header + little-endian
  * samples from an integer formula), Spark decodes it through the REAL
  * `javax.sound.sampled` path and computes level features, and DuckDB
  * recomputes the same features directly from the sample formula — if
  * the decoder mangled a single sample, byte order, or frame count,
  * the hashes diverge. Every arithmetic step (2^15 normalization,
  * integer sum of squares, exact divisions) is double-exact, so no
  * rounding is needed on either side. */
object MediaProbes {

  /** Shared x127/x129 audio fixture: even ids carry chirp samples
    * from the id formula, each odd id prepends one silent frame to
    * id−1's samples (a planted one-frame-shifted duplicate). The
    * id·i cross term gives every media its own frequency content (an
    * id-only offset is a wrapped DC shift that leaves all spectra
    * identical for k ≥ 1) and the i² chirp sweeps the dominant bin
    * ACROSS frames (a pure tone's per-frame sig is constant,
    * collapsing the token space) — both degeneracies were found by
    * row-count sanity at sf0.001. */
  private def audioMediaOf(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map { id =>
        val baseId = if (id % 2 == 0) id else id - 1
        val nf = 5 + ((baseId / 2) % 3).toInt
        val base = Array.tabulate(nf * 32) { i =>
          (((baseId * 7919L + i.toLong * 104729L +
            baseId * i.toLong * 31L +
            i.toLong * i.toLong * (517L + baseId % 89L)) % 65536L) - 32768L).toInt
        }
        val samples =
          if (id % 2 == 0) base else Array.fill(32)(0) ++ base
        MultimodalOps.MediaRow(id,
          MultimodalOps.synthWavPcm16(8000, samples), "wav", 0, 0)
      }
  }

  /** The shared x127/x129 oracle prelude: fixture samples → integer-
    * twiddle DFT (literal VALUES table computed by the SAME
    * StrictMath expressions the kernel uses) → mag² → rank-packed
    * top-3 sigs → 26-bit constellation tokens, as CTEs ending at
    * `tok(doc_id, t, token)`. */
  private def audioTokPrelude: String = {
    val tw = (for (k <- 1 to AudioFingerprint.Bins;
                   n <- 0 until AudioFingerprint.FrameSize) yield {
      val i = (k - 1) * AudioFingerprint.FrameSize + n
      s"($k,$n,${AudioFingerprint.twCos(i)},${AudioFingerprint.twSin(i)})"
    }).mkString(",")
    s"""WITH tw(k, n, c, sn) AS (VALUES $tw),
       |m AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 0 THEN doc_id ELSE doc_id - 1 END AS base_id,
       |    CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 32 END AS pad
       |  FROM documents),
       |g AS (SELECT doc_id, base_id, pad,
       |        CAST(5 + (base_id // 2) % 3 AS INT) AS nf FROM m),
       |idx AS (
       |  SELECT doc_id, base_id, pad, nf,
       |    unnest(generate_series(0, nf * 32 + pad - 1)) AS i
       |  FROM g),
       |smp AS (
       |  SELECT doc_id, nf, pad, i // 32 AS frame, i % 32 AS n,
       |    CASE WHEN i < pad THEN 0
       |         ELSE ((base_id * 7919 + (i - pad) * 104729
       |                + base_id * (i - pad) * 31
       |                + (i - pad) * (i - pad) * (517 + base_id % 89)) % 65536) - 32768
       |    END AS s
       |  FROM idx),
       |ft AS (
       |  SELECT doc_id, frame, k,
       |    CAST(SUM(s * c) AS BIGINT) AS re,
       |    CAST(SUM(s * sn) AS BIGINT) AS im
       |  FROM smp JOIN tw USING (n)
       |  GROUP BY 1, 2, 3),
       |mag AS (SELECT doc_id, frame, k, re * re + im * im AS mag2 FROM ft),
       |rk AS (
       |  SELECT doc_id, frame, k,
       |    row_number() OVER (PARTITION BY doc_id, frame
       |                       ORDER BY mag2 DESC, k) AS rn
       |  FROM mag),
       |sig AS (
       |  SELECT doc_id, frame,
       |    CAST(SUM(CASE rn WHEN 1 THEN k * 256 WHEN 2 THEN k * 16
       |                     ELSE k END) AS BIGINT) AS sig
       |  FROM rk WHERE rn <= 3 GROUP BY 1, 2),
       |dts AS (SELECT unnest(generate_series(1, 3)) AS dt),
       |tok AS (
       |  SELECT s1.doc_id, s1.frame AS t,
       |    (s1.sig * 4096 + s2.sig) * 4 + d.dt AS token
       |  FROM sig s1 CROSS JOIN dts d
       |  JOIN sig s2 ON s2.doc_id = s1.doc_id
       |             AND s2.frame = s1.frame + d.dt)""".stripMargin
  }

  /** The x127/x129 fixture's constellation tokens — exposed for the
    * measured-density adjudication tool
    * ([[graft.tools.MediaDensityProfile]]). */
  private[graft] def audioTokensOf(s: org.apache.spark.sql.SparkSession,
                                   d: String): org.apache.spark.sql.DataFrame =
    AudioFingerprint.tokens(audioMediaOf(s, d)).toDF()

  /** The x128 fixture's per-frame dhash relation (video_id, frame_idx,
    * dhash): even ids render nf formula frames, each odd id prepends
    * one junk frame (fterm 99) to id−1's sequence — a planted
    * one-frame-shifted duplicate. The multiplicative salt kills the
    * raw formula's mod-256 periodicity in id (videos 256 apart would
    * render near-identical pixels — thousands of unplanted exact
    * pairs); x·salt and y·ft cross terms keep the dhash comparison
    * pattern varying per video and per frame. */
  private[graft] def videoFramesOf(s: org.apache.spark.sql.SparkSession,
                                   d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val frames = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .flatMap { id =>
        val baseId = id - (id % 2)
        val nf = 4 + (baseId % 3).toInt
        val w = 16 + (baseId % 5).toInt; val h = 12 + (baseId % 3).toInt
        val fis =
          if (id % 2 == 0) (0 until nf).map(f => (f, f))
          else (0 to nf).map(f => (f, if (f == 0) 99 else f - 1))
        val vs = (baseId * 2654435761L) % 65521L
        val vb = (baseId * 48271L) % 65521L
        val vc = (baseId * 16807L) % 65521L
        fis.map { case (fi, ft) =>
          val luma = Array.tabulate(w * h) { i =>
            val y = i / w; val x = i % w
            ((vs * 31 + ft * 97 + x * x * 7 + y * y * 13 +
              x * y * 5 + x * vs * 3 + y * ft * 11 +
              y * vb * 7 + x * y * vc * 3) % 256).toByte
          }
          MultimodalOps.MediaRow(id * 100 + fi, luma, "raster8", w, h)
        }
      }
    graft.multimodal.PerceptualHash.phashes(frames).select(
      expr("media_id DIV 100").as("video_id"),
      (col("media_id") % 100).cast("int").as("frame_idx"),
      col("dhash"))
  }

  /** The x128 fixture's band-pair tokens, for the density tool. */
  private[graft] def videoTokensOf(s: org.apache.spark.sql.SparkSession,
                                   d: String): org.apache.spark.sql.DataFrame =
    graft.multimodal.PerceptualHash.videoBandTokens(videoFramesOf(s, d))

  val probes: Seq[Probe] = Seq(

    Probe("x54_audio_features",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val n = 256 + (id % 64).toInt
            val samples = Array.tabulate(n) { i =>
              (((id * 7919L + i.toLong * 104729L) % 65536L) - 32768L).toInt
            }
            MultimodalOps.MediaRow(id,
              MultimodalOps.synthWavPcm16(8000, samples), "wav", 0, 0)
          }
        MultimodalOps.extractAudioFeatures(media)
          .select(col("media_id"), col("n_bytes"), col("decoded"),
            col("sample_rate"), col("channels"), col("n_frames"),
            col("duration_s"), col("rms"), col("peak"), col("clipping_frac"))
          .orderBy("media_id")
      },
      Some("""WITH g AS (SELECT doc_id, 256 + doc_id % 64 AS n FROM documents),
             |i AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM g),
             |v AS (SELECT doc_id, n,
             |        ((doc_id * 7919 + i * 104729) % 65536) - 32768 AS s
             |      FROM i),
             |a AS (SELECT doc_id, ANY_VALUE(n) AS n,
             |        SUM(s * s) AS sumsq,
             |        MAX(ABS(s)) AS maxabs,
             |        SUM(CASE WHEN s = 32767 OR s = -32768 THEN 1 ELSE 0 END) AS clips,
             |        COUNT(*) AS cnt
             |      FROM v GROUP BY doc_id)
             |SELECT doc_id AS media_id,
             |  CAST(44 + 2 * n AS INT) AS n_bytes,
             |  TRUE AS decoded,
             |  8000 AS sample_rate,
             |  1 AS channels,
             |  CAST(n AS BIGINT) AS n_frames,
             |  CAST(n AS DOUBLE) / 8000 AS duration_s,
             |  SQRT((CAST(sumsq AS DOUBLE) / 1073741824) / cnt) AS rms,
             |  CAST(maxabs AS DOUBLE) / 32768 AS peak,
             |  CAST(clips AS DOUBLE) / cnt AS clipping_frac
             |FROM a ORDER BY media_id""".stripMargin)),

    // The AVI/RIFF container path: each id synthesizes an AVI whose
    // frame payloads are deterministic ASCII blobs, Spark parses the
    // container for real (header walk, chunk offsets, every-2nd
    // sampling, per-media meta) and DuckDB states every output —
    // frame bytes' md5 included — by the same id arithmetic, ground
    // truth by construction. The frames are deliberately NOT JPEGs:
    // n_decoded must stay 0 (garbage frames are data, not images;
    // the real-JPEG decode path is spec-certified in VideoSpec) ------
    Probe("x68_video_frames",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val nf = (id % 5 + 1).toInt
            val frames = (0 until nf).map { f =>
              val unit = s"v$id-$f;"
              (unit * (10 + ((id + f) % 7).toInt)).getBytes("US-ASCII")
            }
            MultimodalOps.MediaRow(id,
              MultimodalOps.synthAviMjpeg(frames, 320 + (id % 3).toInt * 16,
                240, 40000L), "avi", 0, 0)
          }
        val fr = MultimodalOps.sampleVideoFrames(media, everyN = 2)
          .select(col("media_id"), col("frame_idx"), col("n_bytes"),
            md5(col("frame")).as("frame_md5"))
        val meta = MultimodalOps.extractVideoFeatures(media, everyN = 2)
          .select(col("media_id"), col("container_ok"), col("width"),
            col("height"), col("fps"), col("n_frames"), col("n_sampled"),
            col("n_decoded"))
        fr.join(meta, Seq("media_id")).orderBy("media_id", "frame_idx")
      },
      Some("""WITH m AS (SELECT doc_id, doc_id % 5 + 1 AS nf FROM documents),
             |f AS (SELECT doc_id, nf, unnest(generate_series(0, nf - 1)) AS fi
             |      FROM m),
             |sf AS (SELECT doc_id, nf, fi,
             |         repeat('v' || doc_id || '-' || fi || ';',
             |                CAST(10 + (doc_id + fi) % 7 AS INT)) AS payload
             |       FROM f WHERE fi % 2 = 0)
             |SELECT doc_id AS media_id,
             |  CAST(fi AS INT) AS frame_idx,
             |  CAST(length(payload) AS INT) AS n_bytes,
             |  md5(payload) AS frame_md5,
             |  TRUE AS container_ok,
             |  CAST(320 + (doc_id % 3) * 16 AS INT) AS width,
             |  240 AS height,
             |  25.0 AS fps,
             |  CAST(nf AS BIGINT) AS n_frames,
             |  CAST((nf + 1) // 2 AS INT) AS n_sampled,
             |  0 AS n_decoded
             |FROM sf ORDER BY media_id, frame_idx""".stripMargin)),

    // PerceptualHash.phashes: dHash/aHash over formula rasters — each
    // doc synthesizes a w×h luminance plane from an integer formula,
    // Spark hashes through the real raster path (9×8 / 8×8 integer
    // nearest resample, comparison bits, MSB-first packing), and the
    // oracle re-derives every SAMPLED pixel directly from the formula
    // (the resample index math re-done in SQL) and re-packs the four
    // 16-bit bands — an off-by-one in the grid, the packing order, or
    // the integer mean diverges the hash ------------------------------
    Probe("x89_phash",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val w = 16 + (id % 5).toInt; val h = 12 + (id % 3).toInt
            val luma = Array.tabulate(w * h) { i =>
              val y = i / w; val x = i % w
              ((id * 31 + x * x * 7 + y * y * 13 + x * y * 5) % 256).toByte
            }
            graft.multimodal.MultimodalOps.MediaRow(id, luma, "raster8", w, h)
          }
        val hashes = graft.multimodal.PerceptualHash.phashes(media)
        def band(c: String, b: Int) =
          shiftrightunsigned(col(c), 48 - 16 * b).bitwiseAND(lit(0xFFFFL))
        hashes.select(col("media_id"), col("decoded"),
            band("dhash", 0).as("d0"), band("dhash", 1).as("d1"),
            band("dhash", 2).as("d2"), band("dhash", 3).as("d3"),
            band("ahash", 0).as("a0"), band("ahash", 1).as("a1"),
            band("ahash", 2).as("a2"), band("ahash", 3).as("a3"))
          .orderBy("media_id")
      },
      Some("""WITH g AS (SELECT doc_id, 16 + doc_id % 5 AS w, 12 + doc_id % 3 AS h
             |           FROM documents),
             |xy AS (SELECT a.x, b.y
             |       FROM (SELECT unnest(generate_series(0, 7)) AS x) a,
             |            (SELECT unnest(generate_series(0, 7)) AS y) b),
             |dbit AS (
             |  SELECT doc_id, y // 2 AS band,
             |    CASE WHEN (doc_id*31 + (((x+1)*w) // 9)*(((x+1)*w) // 9)*7 + ((y*h) // 8)*((y*h) // 8)*13 + (((x+1)*w) // 9)*((y*h) // 8)*5) % 256 >
             |              (doc_id*31 + ((x*w) // 9)*((x*w) // 9)*7 + ((y*h) // 8)*((y*h) // 8)*13 + ((x*w) // 9)*((y*h) // 8)*5) % 256
             |         THEN 1 << (15 - ((y % 2) * 8 + x)) ELSE 0 END AS v
             |  FROM g, xy),
             |dband AS (SELECT doc_id, band, SUM(v) AS bv FROM dbit GROUP BY 1, 2),
             |asamp AS (
             |  SELECT doc_id, x, y,
             |    (doc_id*31 + ((x*w) // 8)*((x*w) // 8)*7 + ((y*h) // 8)*((y*h) // 8)*13 + ((x*w) // 8)*((y*h) // 8)*5) % 256 AS p
             |  FROM g, xy),
             |amean AS (SELECT doc_id, SUM(p) // 64 AS mean FROM asamp GROUP BY 1),
             |abit AS (
             |  SELECT s.doc_id, s.y // 2 AS band,
             |    CASE WHEN s.p >= m.mean
             |         THEN 1 << (15 - ((s.y % 2) * 8 + s.x)) ELSE 0 END AS v
             |  FROM asamp s JOIN amean m ON m.doc_id = s.doc_id),
             |aband AS (SELECT doc_id, band, SUM(v) AS bv FROM abit GROUP BY 1, 2)
             |SELECT g.doc_id AS media_id, TRUE AS decoded,
             |  CAST(d0.bv AS BIGINT) AS d0, CAST(d1.bv AS BIGINT) AS d1,
             |  CAST(d2.bv AS BIGINT) AS d2, CAST(d3.bv AS BIGINT) AS d3,
             |  CAST(a0.bv AS BIGINT) AS a0, CAST(a1.bv AS BIGINT) AS a1,
             |  CAST(a2.bv AS BIGINT) AS a2, CAST(a3.bv AS BIGINT) AS a3
             |FROM g
             |JOIN dband d0 ON d0.doc_id = g.doc_id AND d0.band = 0
             |JOIN dband d1 ON d1.doc_id = g.doc_id AND d1.band = 1
             |JOIN dband d2 ON d2.doc_id = g.doc_id AND d2.band = 2
             |JOIN dband d3 ON d3.doc_id = g.doc_id AND d3.band = 3
             |JOIN aband a0 ON a0.doc_id = g.doc_id AND a0.band = 0
             |JOIN aband a1 ON a1.doc_id = g.doc_id AND a1.band = 1
             |JOIN aband a2 ON a2.doc_id = g.doc_id AND a2.band = 2
             |JOIN aband a3 ON a3.doc_id = g.doc_id AND a3.band = 3
             |ORDER BY media_id""".stripMargin)),

    // PerceptualHash.nearDupPairs: banded Hamming near-dup over the
    // same formula rasters with PLANTED near-duplicates — every
    // doc_id%10==0 (>0) renders doc_id-1's image with its top-left
    // pixel bumped by one grey level, so (id-1, id) pairs sit at
    // Hamming ≤ 2 and must surface through the band join; organic
    // band collisions exercise the exact Hamming filter -------------
    Probe("x90_phash_neardup",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
          .map { id =>
            val base = if (id % 10 == 0 && id > 0) id - 1 else id
            val bump = if (id % 10 == 0 && id > 0) 1 else 0
            val w = 16 + (base % 5).toInt; val h = 12 + (base % 3).toInt
            val luma = Array.tabulate(w * h) { i =>
              val y = i / w; val x = i % w
              val v = (base * 31 + x * x * 7 + y * y * 13 + x * y * 5) % 256
              (if (i == 0) (v + bump) % 256 else v).toByte
            }
            graft.multimodal.MultimodalOps.MediaRow(id, luma, "raster8", w, h)
          }
        val hashes = graft.multimodal.PerceptualHash.phashes(media)
        graft.multimodal.PerceptualHash.nearDupPairs(hashes, maxHamming = 3)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH ids AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 10 = 0 AND doc_id > 0
             |         THEN doc_id - 1 ELSE doc_id END AS base,
             |    CASE WHEN doc_id % 10 = 0 AND doc_id > 0 THEN 1 ELSE 0 END AS bump
             |  FROM documents),
             |g AS (SELECT doc_id, base, bump,
             |        16 + base % 5 AS w, 12 + base % 3 AS h FROM ids),
             |xy AS (SELECT a.x, b.y
             |       FROM (SELECT unnest(generate_series(0, 7)) AS x) a,
             |            (SELECT unnest(generate_series(0, 7)) AS y) b),
             |dbit AS (
             |  SELECT doc_id, y // 2 AS band,
             |    CASE WHEN
             |      ((base*31 + (((x+1)*w) // 9)*(((x+1)*w) // 9)*7 + ((y*h) // 8)*((y*h) // 8)*13 + (((x+1)*w) // 9)*((y*h) // 8)*5) % 256 +
             |       CASE WHEN (((x+1)*w) // 9) = 0 AND ((y*h) // 8) = 0
             |            THEN bump ELSE 0 END) % 256 >
             |      ((base*31 + ((x*w) // 9)*((x*w) // 9)*7 + ((y*h) // 8)*((y*h) // 8)*13 + ((x*w) // 9)*((y*h) // 8)*5) % 256 +
             |       CASE WHEN ((x*w) // 9) = 0 AND ((y*h) // 8) = 0
             |            THEN bump ELSE 0 END) % 256
             |    THEN 1 << (15 - ((y % 2) * 8 + x)) ELSE 0 END AS v
             |  FROM g, xy),
             |bands AS (SELECT doc_id, band, SUM(v) AS bv FROM dbit GROUP BY 1, 2),
             |wide AS (
             |  SELECT doc_id,
             |    MAX(CASE WHEN band = 0 THEN bv END) AS b0,
             |    MAX(CASE WHEN band = 1 THEN bv END) AS b1,
             |    MAX(CASE WHEN band = 2 THEN bv END) AS b2,
             |    MAX(CASE WHEN band = 3 THEN bv END) AS b3
             |  FROM bands GROUP BY doc_id),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
             |ham AS (
             |  SELECT c.id_a, c.id_b,
             |    bit_count(xor(wa.b0, wb.b0)) + bit_count(xor(wa.b1, wb.b1)) +
             |    bit_count(xor(wa.b2, wb.b2)) + bit_count(xor(wa.b3, wb.b3))
             |      AS hamming
             |  FROM cand c
             |  JOIN wide wa ON wa.doc_id = c.id_a
             |  JOIN wide wb ON wb.doc_id = c.id_b)
             |SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
             |FROM ham WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin)),

    // AudioFingerprint.nearDup: constellation audio near-dup over
    // PLANTED shifted duplicates — every odd doc_id's WAV is one
    // frame of digital silence prepended to doc_id−1's samples, so
    // (even, odd) pairs share every even-side token at frame offset
    // −1 and must surface with n_matches = 3F−6 ≥ 9 (minMatches 7
    // keeps the quadratically-growing ORGANIC collision pairs — real
    // output both engines agree on, but noise at honesty-run scales —
    // down to a thin tail while every planted pair clears it). The ENTIRE
    // chain is integer-exact (16-bit lattice samples, round(cos·512)
    // twiddles, long re/im sums, mag² longs, nibble-packed top-3
    // sigs, 26-bit tokens), so the oracle re-derives it all: the
    // twiddle table is embedded as a literal VALUES relation computed
    // by the SAME StrictMath expressions the kernel uses — one
    // twiddle bit off, one tie broken differently, one frame
    // misaligned, and the hashes diverge ------------------------------
    Probe("x127_audio_neardup",
      (s, d) => {
        AudioFingerprint.nearDup(audioMediaOf(s, d), minMatches = 7)
          .select(col("a_id"), col("b_id"),
            col("offset").cast("int").as("offset"), col("n_matches"))
          .orderBy("a_id", "b_id")
      },
      Some {
        s"""$audioTokPrelude,
           |tf AS (SELECT token FROM tok GROUP BY token
           |       HAVING COUNT(DISTINCT doc_id) > 1000),
           |rare AS (SELECT * FROM tok WHERE token NOT IN (SELECT token FROM tf)),
           |cand AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |    a.t - b.t AS toff, COUNT(*) AS n
           |  FROM rare a JOIN rare b USING (token)
           |  WHERE a.doc_id < b.doc_id
           |  GROUP BY 1, 2, 3),
           |best AS (
           |  SELECT a_id, b_id, toff, n,
           |    row_number() OVER (PARTITION BY a_id, b_id
           |                       ORDER BY n DESC, toff) AS rn
           |  FROM cand)
           |SELECT a_id, b_id, CAST(toff AS INT) AS "offset", n AS n_matches
           |FROM best WHERE rn = 1 AND n >= 7
           |ORDER BY a_id, b_id""".stripMargin
      }),

    // Constellation.writeTokenIndex/appendToTokenIndex/
    // matchAgainstIndex: INCREMENTAL media ingest dedup — the x32
    // text / x104 ANN shape for the fingerprint family. The corpus
    // (even ids) is fingerprinted ONCE into the at-rest token index
    // (built from half, marker-gated append of the rest, plus a
    // replayed append that must be a no-op — token rows are disjoint
    // facts, a landed replay would inflate n_matches); the ingest
    // batch (odd ids — each a planted shifted duplicate of id−1) is
    // the only thing decoded this cycle and matches against the
    // PERSISTED tokens only. The oracle re-derives both sides from
    // raw samples, so equality certifies persisted ≡ from-raw
    // end to end ------------------------------------------------------
    Probe("x129_audio_index_ingest",
      (s, d) => {
        val media = audioMediaOf(s, d)
        val corpus = media.filter((m: MultimodalOps.MediaRow) =>
          m.media_id % 2 == 0)
        val batch = media.filter((m: MultimodalOps.MediaRow) =>
          m.media_id % 2 == 1)
        val tag = IndexCache.corpusTag("x129", d, Tables.documents(s, d),
          Seq("doc_id"))
        val dir = IndexCache.built(s"x129_tokidx_v3_$tag") { dir =>
          val ct = AudioFingerprint.tokens(corpus).toDF()
          Constellation.writeTokenIndex(
            ct.where(col("media_id") % 4 === 0), dir, "audio_dft32_v1")
          Constellation.appendToTokenIndex(
            ct.where(col("media_id") % 4 === 2), dir, "audio_dft32_v1",
            doneMarker = Some("b1"))
          Constellation.appendToTokenIndex(
            ct.where(col("media_id") % 4 === 2), dir, "audio_dft32_v1",
            doneMarker = Some("b1")) // replay — must be gated
        }
        Constellation.matchAgainstIndex(
            AudioFingerprint.tokens(batch).toDF(), dir, "audio_dft32_v1",
            minMatches = 7)
          .select(col("a_id"), col("b_id"),
            col("offset").cast("int").as("offset"), col("n_matches"))
          .orderBy("a_id", "b_id")
      },
      Some {
        s"""$audioTokPrelude,
           |bt AS (SELECT * FROM tok WHERE doc_id % 2 = 1),
           |ct AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
           |tfb AS (SELECT token FROM bt GROUP BY token
           |        HAVING COUNT(DISTINCT doc_id) > 1000),
           |tfc AS (SELECT token FROM ct GROUP BY token
           |        HAVING COUNT(DISTINCT doc_id) > 1000),
           |rb AS (SELECT * FROM bt WHERE token NOT IN (SELECT token FROM tfb)),
           |rc AS (SELECT * FROM ct WHERE token NOT IN (SELECT token FROM tfc)),
           |cand AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |    a.t - b.t AS toff, COUNT(*) AS n
           |  FROM rb a JOIN rc b USING (token)
           |  GROUP BY 1, 2, 3),
           |best AS (
           |  SELECT a_id, b_id, toff, n,
           |    row_number() OVER (PARTITION BY a_id, b_id
           |                       ORDER BY n DESC, toff) AS rn
           |  FROM cand)
           |SELECT a_id, b_id, CAST(toff AS INT) AS "offset", n AS n_matches
           |FROM best WHERE rn = 1 AND n >= 7
           |ORDER BY a_id, b_id""".stripMargin
      }),

    // PerceptualHash.videoNearDup: temporally-aligned frame-hash video
    // near-dup — every odd id's video is one junk frame (fterm 99)
    // prepended to id−1's frame sequence, so (even, odd) pairs share
    // all F frames at offset −1 and score 4(F−1) ≥ 12 band-pair
    // tokens (consecutive-frame pairing — the saturation fix whose
    // need the first sf1 honesty run measured; see videoBandTokens).
    // Frames render through the REAL raster path (x89's dhash — the
    // 9×8 integer resample, comparison bits, MSB packing), the frame
    // hashes split into band tokens, and the constellation matcher
    // scores offset agreement; the oracle re-derives the dhash grid
    // math per frame (x89's SQL with the fterm·97 term), re-packs the
    // band tokens, and replays the match ------------------------------
    Probe("x128_video_neardup",
      (s, d) => {
        val vf = videoFramesOf(s, d)
        graft.multimodal.PerceptualHash.videoNearDup(vf, minMatches = 8)
          .select(col("a_id"), col("b_id"),
            col("offset").cast("int").as("offset"), col("n_matches"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH v AS (SELECT doc_id, doc_id - doc_id % 2 AS base_id
             |           FROM documents),
             |g AS (SELECT doc_id, base_id,
             |        (base_id * 2654435761) % 65521 AS vs,
             |        (base_id * 48271) % 65521 AS vb,
             |        (base_id * 16807) % 65521 AS vc,
             |        CAST(4 + base_id % 3 AS INT) AS nf,
             |        CAST(16 + base_id % 5 AS INT) AS w,
             |        CAST(12 + base_id % 3 AS INT) AS h
             |      FROM v),
             |fr AS (
             |  SELECT doc_id, vs, vb, vc, w, h,
             |    unnest(generate_series(0, nf - 1 + CAST(doc_id % 2 AS INT))) AS fi
             |  FROM g),
             |fx AS (
             |  SELECT doc_id, vs, vb, vc, w, h, fi,
             |    CASE WHEN doc_id % 2 = 0 THEN fi
             |         WHEN fi = 0 THEN 99 ELSE fi - 1 END AS ft
             |  FROM fr),
             |xy AS (SELECT a.x, b.y
             |       FROM (SELECT unnest(generate_series(0, 7)) AS x) a,
             |            (SELECT unnest(generate_series(0, 7)) AS y) b),
             |dbit AS (
             |  SELECT doc_id, fi, y // 2 AS band,
             |    CASE WHEN (vs*31 + ft*97 + (((x+1)*w) // 9)*(((x+1)*w) // 9)*7 + ((y*h) // 8)*((y*h) // 8)*13 + (((x+1)*w) // 9)*((y*h) // 8)*5 + (((x+1)*w) // 9)*vs*3 + ((y*h) // 8)*ft*11 + ((y*h) // 8)*vb*7 + (((x+1)*w) // 9)*((y*h) // 8)*vc*3) % 256 >
             |              (vs*31 + ft*97 + ((x*w) // 9)*((x*w) // 9)*7 + ((y*h) // 8)*((y*h) // 8)*13 + ((x*w) // 9)*((y*h) // 8)*5 + ((x*w) // 9)*vs*3 + ((y*h) // 8)*ft*11 + ((y*h) // 8)*vb*7 + ((x*w) // 9)*((y*h) // 8)*vc*3) % 256
             |         THEN 1 << (15 - ((y % 2) * 8 + x)) ELSE 0 END AS bit
             |  FROM fx, xy),
             |bvs AS (
             |  SELECT doc_id, fi, band, CAST(SUM(bit) AS BIGINT) AS bv
             |  FROM dbit GROUP BY doc_id, fi, band),
             |tok AS (
             |  SELECT a.doc_id AS media_id, a.fi AS t,
             |    (a.band * 65536 + a.bv) * 65536 + b.bv AS token
             |  FROM bvs a JOIN bvs b
             |    ON b.doc_id = a.doc_id AND b.band = a.band
             |   AND b.fi = a.fi + 1),
             |tfq AS (SELECT token FROM tok GROUP BY token
             |        HAVING COUNT(DISTINCT media_id) > 1000),
             |rare AS (SELECT * FROM tok
             |         WHERE token NOT IN (SELECT token FROM tfq)),
             |cand AS (
             |  SELECT a.media_id AS a_id, b.media_id AS b_id,
             |    a.t - b.t AS toff, COUNT(*) AS n
             |  FROM rare a JOIN rare b USING (token)
             |  WHERE a.media_id < b.media_id
             |  GROUP BY 1, 2, 3),
             |best AS (
             |  SELECT a_id, b_id, toff, n,
             |    row_number() OVER (PARTITION BY a_id, b_id
             |                       ORDER BY n DESC, toff) AS rn
             |  FROM cand)
             |SELECT a_id, b_id, CAST(toff AS INT) AS "offset", n AS n_matches
             |FROM best WHERE rn = 1 AND n >= 8
             |ORDER BY a_id, b_id""".stripMargin)),
  )
}
