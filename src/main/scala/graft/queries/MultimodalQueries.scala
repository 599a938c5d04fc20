package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, Tables}
import graft.llm.Multimodal

/** The multimodal family (mm): decode, resize, codec features, doc
  * extraction, chunking, and image/audio near-dup, batch and
  * incremental, over fixtures every oracle regenerates in SQL. */
object MultimodalQueries extends Q.Registry {

  /** mm9/mm10's deterministic grayscale fixture: pixel (x, y) of the
    * image derived from `src` (gradient slopes src mod 7/11, constant
    * offset src), with pert = 1 flipping pixel (0, 0) by +1 — a
    * hamming ≤ 1 dHash perturbation (≥ 3 of 4 bands untouched, so
    * banding cannot miss it). */
  private def imageFixturePixel(src: Long, pert: Int)(x: Int, y: Int): Int = {
    val v = ((3 * (src % 7 + 1) * x + 5 * (src % 11 + 1) * y + src) % 256).toInt
    if (pert == 1 && x == 0 && y == 0) (v + 1) % 256 else v
  }

  /** Synthesize, PNG-encode, REALLY decode (javax.imageio roundtrip —
    * the codec leg) and dHash a batch of fixture images: one (doc_id,
    * h_lo, h_hi) row per decodable 18×16 image. Only the ids passed
    * here pay codec work — the seam mm10's incremental claim rests
    * on. Both dimensions gate the hash (dhashHalves' grid contract:
    * a decodable wrong-sized image would pack null comparisons as
    * 0-bits and band-collide as a false near-dup). */
  private[queries] def imageHashes(s: SparkSession, ids: Seq[(Long, Long, Int)]): DataFrame = {
    import s.implicits._
    val rows = ids.map { case (id, src, pert) =>
      (id, Multimodal.grayPng(18, 16)(imageFixturePixel(src, pert)))
    }
    val px = Multimodal
      .grayPixelsBatched(rows.toDF("doc_id", "payload"), "doc_id", "payload")
      .toDF()
    val (lo, hi) = Multimodal.dhashHalves(col("pixels"))
    px.filter(col("width") === 18 && col("height") === 16)
      .select(col("doc_id"), lo.as("h_lo"), hi.as("h_hi"))
  }

  /** mm11's deterministic PCM fixture: channel-0 sample t of the clip
    * derived from `src` (ramp slopes src mod 7/11, per-window step,
    * constant offset), with pert = 1 bumping sample 0 by +1 — only
    * window 0's energy changes ((v+1)² ≠ v² for integer v), so at most
    * fingerprint bit 0 flips: hamming ≤ 1, ≥ 3 of 4 bands untouched,
    * banding cannot miss. Values stay in [-200, 201] — exact through
    * PCM-16. */
  private def audioFixtureSample(src: Long, pert: Int)(t: Int): Short = {
    val v = (3 * (src % 7 + 1) * t + 5 * (src % 11 + 1) * (t / 32) +
      src * 11) % 401 - 200
    (if (pert == 1 && t == 0) v + 1 else v).toShort
  }

  /** Synthesize, WAV-encode, REALLY decode (javax.sound roundtrip —
    * the codec leg; PCM-16 is lossless so decoded samples ARE the
    * formula values) and energy-fingerprint a batch of fixture clips:
    * one (doc_id, h_lo, h_hi) row per decodable mono 2080-sample clip.
    * Both gates matter (energyFingerprintHalves' grid contract): a
    * decodable short/multichannel clip would pack null comparisons as
    * 0-bits and band-collide as a false near-dup. */
  private def audioHashes(s: SparkSession, ids: Seq[(Long, Long, Int)]): DataFrame = {
    import s.implicits._
    val rows = ids.map { case (id, src, pert) =>
      (id, Multimodal.pcm16Wav(8000, 1,
        Array.tabulate(2080)(t => audioFixtureSample(src, pert)(t))))
    }
    val px = Multimodal
      .audioSamplesBatched(rows.toDF("doc_id", "payload"), "doc_id", "payload")
      .toDF()
    val (lo, hi) = Multimodal.energyFingerprintHalves(col("samples"))
    px.filter(col("channels") === 1 && size(col("samples")) === 2080)
      .select(col("doc_id"), lo.as("h_lo"), hi.as("h_hi"))
  }

  /** A fingerprint band index, written once per JVM (dd11's persisted
    * signatures): [[graft.ops.BandedHamming.withBands]]' rows, so a
    * batch equi-joins it and the existing payloads are never re-decoded. */
  private def bandIndexDir(name: String, prefix: String, table: String,
                           hashes: => DataFrame): String =
    Artifacts.get(Artifacts.Jvm, "", name) { own =>
      val dir = own.tree(java.nio.file.Files.createTempDirectory(prefix))
        .resolve(table).toString
      graft.ops.BandedHamming.withBands(hashes, "h_lo", "h_hi")
        .select("band", "band_val", "doc_id", "h_lo", "h_hi")
        .write.mode("overwrite").parquet(dir)
      dir
    }

  /** mm10's existing image corpus (ids 1-80), dHash-banded. */
  private def mm10ImageIndexDir(s: SparkSession): String =
    bandIndexDir("mm10_image_index", "graft_mm10_", "dhash_bands",
      imageHashes(s, (1L to 80L).map(i => (i, i, 0))))

  /** mm12's existing audio corpus (clips 1-60, mm11's base), banded. */
  private def mm12AudioIndexDir(s: SparkSession): String =
    bandIndexDir("mm12_audio_index", "graft_mm12_", "afp_bands",
      audioHashes(s, (1L to 60L).map(i => (i, i, 0))))

  val all: Seq[Q] = Seq(

    Q("mm1_binary_meta",
      "Multimodal binary-column plumbing: opaque payload bytes + " +
        "byte-length/checksum/chunk-count metadata (decode itself is " +
        "the stubbed seam, see llm.Multimodal).",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("payload", Multimodal.payload(col("text")))
          .select(
            col("doc_id"),
            length(col("payload")).as("n_bytes"),
            md5(col("payload")).as("checksum"),
            ceil(length(col("payload")).cast("double") / 16).cast("long").as("n_chunks"))
          .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
          |  md5(text) AS checksum,
          |  CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 16) AS BIGINT) AS n_chunks
          |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("mm3_batched_decode",
      "Batched multimodal decode (the mapInPandas analog): " +
        "mapPartitions consumes 64-row payload batches, one codec call " +
        "per batch, typed DecodedMeta rows out. The stub codec is " +
        "byte-length-deterministic, so even this non-SQL execution " +
        "path gets a full hash oracle.",
      (s, d) => {
        val withPayload = Tables.documents(s, d)
          .withColumn("payload", Multimodal.payload(col("text")))
        Multimodal.decodeBatched(withPayload, "doc_id", "payload")
          .toDF().orderBy("doc_id")
      },
      Some(
        """SELECT doc_id,
          |  CASE octet_length(encode(text)) % 3
          |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
          |  CAST(octet_length(encode(text)) % 1920 + 64 AS INT) AS width,
          |  CAST(octet_length(encode(text)) % 1080 + 64 AS INT) AS height,
          |  CAST(octet_length(encode(text)) AS INT) AS n_bytes
          |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("mm4_batched_resize",
      "Batched multimodal resize through the same mapBatched seam as " +
        "mm3: stub codec (byte-length + md5 deterministic) so the " +
        "resize stage's plumbing — batching, dead-letter rows, typed " +
        "output — gets a full hash oracle; the real JDK scaler path " +
        "(imageioResizeBatch) stays spec-covered in MultimodalSpec.",
      (s, d) => {
        val withPayload = Tables.documents(s, d)
          .withColumn("payload", Multimodal.payload(col("text")))
        Multimodal.resizeBatched(withPayload, "doc_id", "payload", 64, 64,
          codec = Some(Multimodal.stubResizeBatch(64, 64)))
          .select(
            col("doc_id"), col("width"), col("height"),
            md5(col("png")).as("png_md5"),
            length(col("png")).cast("int").as("png_bytes"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id,
          |  CAST(CASE WHEN n % 17 = 0 THEN -1 ELSE 64 END AS INT) AS width,
          |  CAST(CASE WHEN n % 17 = 0 THEN -1 ELSE 64 END AS INT) AS height,
          |  CASE WHEN n % 17 = 0 THEN md5('')
          |       ELSE md5('RESIZED:64x64:' || n || ':' || md5(text)) END AS png_md5,
          |  CAST(CASE WHEN n % 17 = 0 THEN 0
          |       ELSE length('RESIZED:64x64:' || n || ':' || md5(text)) END AS INT) AS png_bytes
          |FROM (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents)
          |ORDER BY doc_id""".stripMargin)),

    Q("mm5_feature_extract",
      "Batched multimodal feature-extract (per-image channel means) " +
        "through the mapBatched seam: stub codec for the hash oracle; " +
        "the real full-pixel-decode path (imageioFeatureBatch) stays " +
        "spec-covered in MultimodalSpec.",
      (s, d) => {
        val withPayload = Tables.documents(s, d)
          .withColumn("payload", Multimodal.payload(col("text")))
        Multimodal.featuresBatched(withPayload, "doc_id", "payload",
          codec = Multimodal.stubFeatureBatch)
          .toDF().orderBy("doc_id")
      },
      Some(
        """SELECT doc_id,
          |  CAST(CASE WHEN n % 17 = 0 THEN -1 ELSE n % 640 + 32 END AS INT) AS width,
          |  CAST(CASE WHEN n % 17 = 0 THEN -1 ELSE n % 480 + 32 END AS INT) AS height,
          |  CAST(CASE WHEN n % 17 = 0 THEN -1 ELSE n % 256 END AS DOUBLE) AS mean_r,
          |  CAST(CASE WHEN n % 17 = 0 THEN -1 ELSE (n * 7) % 256 END AS DOUBLE) AS mean_g,
          |  CAST(CASE WHEN n % 17 = 0 THEN -1 ELSE (n * 13) % 256 END AS DOUBLE) AS mean_b
          |FROM (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
          |ORDER BY doc_id""".stripMargin)),

    Q("mm6_real_codec_features",
      "The REAL image codec under the driver oracle: javax.imageio " +
        "full-pixel decode + per-channel means over four checked-in " +
        "PNG fixtures (classpath resources, analytically-known " +
        "content: a 4x4 checkerboard, a 256-wide linear gradient, a " +
        "solid-color tile, and a truncated header that must dead-" +
        "letter, not die). Same mapBatched seam and ImageFeatures " +
        "schema as mm5; the oracle is the analytic expectation as " +
        "literal rows — means land on the trunc-6 grid exactly " +
        "(127.5, 77, 200... are binary-exact), so the hash check is " +
        "meaningful, not a float coincidence.",
      (s, _) => {
        import s.implicits._
        val rows = Seq("checker.png", "gradient.png", "solid_rgb.png",
          "truncated.png").zipWithIndex.map { case (f, i) =>
          val in = getClass.getResourceAsStream(s"/graft/fixtures/$f")
          require(in != null, s"missing classpath fixture $f")
          val bytes = try in.readAllBytes() finally in.close()
          (i + 1L, bytes)
        }
        Multimodal.featuresBatched(
          rows.toDF("doc_id", "payload"), "doc_id", "payload")
          .toDF()
          .select(col("doc_id"), col("width"), col("height"),
            Fmt.trunc(col("mean_r"), 6).as("mean_r"),
            Fmt.trunc(col("mean_g"), 6).as("mean_g"),
            Fmt.trunc(col("mean_b"), 6).as("mean_b"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT CAST(doc_id AS BIGINT) AS doc_id,
          |       CAST(width AS INT) AS width, CAST(height AS INT) AS height,
          |       CAST(mean_r AS DOUBLE) AS mean_r,
          |       CAST(mean_g AS DOUBLE) AS mean_g,
          |       CAST(mean_b AS DOUBLE) AS mean_b
          |FROM (VALUES
          |  (1, 4, 4, 127.5, 127.5, 127.5),
          |  (2, 256, 4, 127.5, 127.5, 77),
          |  (3, 8, 6, 200, 30, 90),
          |  (4, -1, -1, -1, -1, -1))
          |  AS t(doc_id, width, height, mean_r, mean_g, mean_b)
          |ORDER BY doc_id""".stripMargin)),

    Q("mm7_audio_features",
      "AUDIO through the same batched-codec seam (r7 verdict #7): " +
        "real javax.sound.sampled WAV decode — channels / sample rate " +
        "/ frame count / duration / per-channel RMS — over four " +
        "synthesized PCM-16 fixtures with analytically-exact " +
        "expectations (square waves at power-of-two amplitudes land " +
        "on exact doubles: RMS 0.5 and 0.25, silence 0, and a " +
        "truncated header that must dead-letter, not die). Same " +
        "mapBatched plumbing, schema discipline, and dead-letter " +
        "contract as the image quartet.",
      (s, _) => {
        import s.implicits._
        def square(n: Int, amp: Short): Array[Short] =
          Array.tabulate(n)(i => if (i % 2 == 0) amp else (-amp).toShort)
        val stereo = {
          val ch0 = square(4410, 8192)
          Array.tabulate(4410 * 2)(i => if (i % 2 == 0) ch0(i / 2) else 0: Short)
        }
        val rows = Seq(
          (1L, Multimodal.pcm16Wav(8000, 1, square(16000, 16384))),
          (2L, Multimodal.pcm16Wav(44100, 2, stereo)),
          (3L, Multimodal.pcm16Wav(16000, 1, new Array[Short](800))),
          (4L, Array[Byte](82, 73, 70, 70, 0, 1))) // truncated RIFF header
        Multimodal.audioFeaturesBatched(
          rows.toDF("doc_id", "payload"), "doc_id", "payload")
          .toDF()
          .select(col("doc_id"), col("channels"), col("sample_rate"),
            col("n_frames"), col("duration_s"),
            coalesce(try_element_at(col("rms"), lit(1)), lit(-1.0)).as("rms_c0"),
            coalesce(try_element_at(col("rms"), lit(2)), lit(-1.0)).as("rms_c1"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT CAST(doc_id AS BIGINT) AS doc_id,
          |       CAST(channels AS INT) AS channels,
          |       CAST(sample_rate AS INT) AS sample_rate,
          |       CAST(n_frames AS BIGINT) AS n_frames,
          |       CAST(duration_s AS DOUBLE) AS duration_s,
          |       CAST(rms_c0 AS DOUBLE) AS rms_c0,
          |       CAST(rms_c1 AS DOUBLE) AS rms_c1
          |FROM (VALUES
          |  (1, 1, 8000, 16000, 2.0, 0.5, -1.0),
          |  (2, 2, 44100, 4410, CAST(4410 AS DOUBLE) / 44100, 0.25, 0.0),
          |  (3, 1, 16000, 800, 0.05, 0.0, -1.0),
          |  (4, -1, -1, -1, -1.0, -1.0, -1.0))
          |  AS t(doc_id, channels, sample_rate, n_frames, duration_s, rms_c0, rms_c1)
          |ORDER BY doc_id""".stripMargin)),

    Q("mm8_doc_extract",
      "DOCUMENT extraction — the third training-data modality after " +
        "image and audio (r8 verdict ask #6): HTML payloads through " +
        "the same mapBatched codec seam — script/style/comment blocks " +
        "dropped, tags stripped, entities unescaped, whitespace " +
        "collapsed; real JVM extraction, not a stub (the RTF arm runs " +
        "the JDK's javax.swing.text.rtf parser, spec-covered — " +
        "MultimodalSpec). Every 37th payload is unrecognizable bytes " +
        "and must dead-letter, not die. The page plants an entity in " +
        "the title, braces inside script/style (the tx18 '{' page " +
        "rule's natural enemy), and the document text in a paragraph; " +
        "the EXTRACTED TEXT itself is hash-checked.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val html = concat(
          lit("<html><head><title>alpha &amp; beta</title>" +
            "<style>p { color: red; }</style></head><body><h1>doc "),
          col("doc_id").cast("string"),
          lit("</h1><p>"), col("text"),
          lit("</p><script>if (x &lt; 3) { alert(\"hi\"); }" +
            "</script></body></html>"))
        val payload = when(col("doc_id") % 37 === 0,
            lit(Array[Byte](0, 1, 2, -1, -2))) // no sniffable prefix
          .otherwise(html.cast("binary"))
        Multimodal.extractTextBatched(
          docs.select(col("doc_id"), payload.as("payload")),
          "doc_id", "payload")
          .toDF().orderBy("doc_id")
      },
      Some(
        """SELECT doc_id,
          |       CASE WHEN doc_id % 37 = 0 THEN 'error' ELSE 'html' END AS format,
          |       CAST(CASE WHEN doc_id % 37 = 0 THEN -1 ELSE length(xt) END AS INT) AS n_chars,
          |       CAST(CASE WHEN doc_id % 37 = 0 THEN -1
          |            ELSE len(string_split(xt, ' ')) END AS INT) AS n_words,
          |       CASE WHEN doc_id % 37 = 0 THEN NULL ELSE xt END AS text
          |FROM (SELECT doc_id,
          |             'alpha & beta doc ' || CAST(doc_id AS VARCHAR) || ' ' || text AS xt
          |      FROM documents)
          |ORDER BY doc_id""".stripMargin)),

    Q("mm9_image_near_dup",
      "IMAGE near-dup: the multimodal family composed with the dedup " +
        "family. Deterministic formula-generated grayscale fixtures go " +
        "through a REAL PNG encode -> javax.imageio decode roundtrip " +
        "(the codec leg — PNG gray8 is lossless, so decoded samples " +
        "ARE the formula values), then everything downstream is exact " +
        "integer COLUMN work: 2x2-block sums -> 64-bit dHash packed as " +
        "two 32-bit halves -> 4x16-bit banded join (the SimHash " +
        "topology — candidates meet only on a shared band, never " +
        "all-pairs) -> exact hamming <= 6 verify. Planted: 10 " +
        "one-pixel perturbations (hamming <= 1, so >= 3 of 4 bands " +
        "match — banding CANNOT miss them) and 5 exact copies " +
        "(hamming 0). The DuckDB oracle regenerates the pixels from " +
        "the same formula and restates the hash/band/join arithmetic " +
        "verbatim — the codec leg is proven by the roundtrip, the " +
        "dedup legs by the hash check. At 100 TB the codec is the " +
        "only per-byte stage (mapBatched seam); the join is band-keyed " +
        "like dd4.",
      (s, d) => {
        // banding + verify live in ops/BandedHamming since r14 (the
        // dd4-shape helper mm10's incremental form shares); the hash
        // frame is cached — selfPairs reads it through both join arms,
        // and the PNG decode must run once, not twice
        val ids: Seq[(Long, Long, Int)] =
          (1L to 80L).map(i => (i, i, 0)) ++
            (101L to 110L).map(i => (i, 8 * (i - 100), 1)) ++
            (121L to 125L).map(i => (i, i - 120, 0))
        val hashes = Artifacts.frame(s, d, "mm9_hashes")(imageHashes(s, ids))
        graft.ops.BandedHamming
          .selfPairs(hashes, "doc_id", "h_lo", "h_hi", 6)
          .orderBy("doc_a", "doc_b")
      },
      Some(
        """WITH m AS (
          |  SELECT id,
          |         CASE WHEN id <= 80 THEN id
          |              WHEN id <= 120 THEN 8*(id-100)
          |              ELSE id-120 END AS src,
          |         CASE WHEN id BETWEEN 101 AND 110 THEN 1 ELSE 0 END AS d
          |  FROM (SELECT unnest(range(1, 81)) AS id
          |        UNION ALL SELECT unnest(range(101, 111))
          |        UNION ALL SELECT unnest(range(121, 126)))),
          |pix AS (
          |  SELECT m.id, xx.x, yy.y,
          |    CASE WHEN m.d = 1 AND xx.x = 0 AND yy.y = 0
          |         THEN ((3*(m.src%7+1)*xx.x + 5*(m.src%11+1)*yy.y + m.src) % 256 + 1) % 256
          |         ELSE (3*(m.src%7+1)*xx.x + 5*(m.src%11+1)*yy.y + m.src) % 256 END AS v
          |  FROM m, (SELECT unnest(range(0, 18)) AS x) xx,
          |       (SELECT unnest(range(0, 16)) AS y) yy),
          |blk AS (
          |  SELECT id, x // 2 AS bx, y // 2 AS by, SUM(v) AS s
          |  FROM pix GROUP BY id, x // 2, y // 2),
          |bits AS (
          |  SELECT l.id, l.bx AS x, l.by AS y, (l.s > r.s) AS bit
          |  FROM blk l JOIN blk r ON l.id = r.id AND r.bx = l.bx + 1 AND r.by = l.by
          |  WHERE l.bx <= 7 AND l.by <= 7),
          |hh AS (
          |  SELECT id,
          |    CAST(SUM(CASE WHEN bit AND y < 4
          |                  THEN (CAST(1 AS BIGINT) << CAST(y*8+x AS INT))
          |                  ELSE 0 END) AS BIGINT) AS h_lo,
          |    CAST(SUM(CASE WHEN bit AND y >= 4
          |                  THEN (CAST(1 AS BIGINT) << CAST((y-4)*8+x AS INT))
          |                  ELSE 0 END) AS BIGINT) AS h_hi
          |  FROM bits GROUP BY id),
          |bands AS (
          |  SELECT id, h_lo, h_hi, bb.b AS band,
          |    CASE bb.b WHEN 0 THEN h_lo & 65535
          |              WHEN 1 THEN (h_lo >> 16) & 65535
          |              WHEN 2 THEN h_hi & 65535
          |              ELSE (h_hi >> 16) & 65535 END AS band_val
          |  FROM hh, (SELECT unnest(range(0, 4)) AS b) bb),
          |cand AS (
          |  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b,
          |         a.h_lo AS lo_a, a.h_hi AS hi_a, b.h_lo AS lo_b, b.h_hi AS hi_b
          |  FROM bands a
          |  JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
          |              AND a.id < b.id)
          |SELECT doc_a, doc_b,
          |       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS BIGINT) AS hamming
          |FROM cand
          |WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 6
          |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("mm10_image_near_dup_incremental",
      "INCREMENTAL image near-dup vs a persisted dHash index (r13 " +
        "verdict ask #3 — dd11's production topology on mm9's " +
        "fingerprints): the existing corpus's 4x16-bit band table " +
        "(band, band_val, doc_id, h_lo, h_hi) is written ONCE to " +
        "parquet; a new image batch pays the ONLY codec work (real " +
        "PNG encode -> javax.imageio decode, then exact integer " +
        "dHash), candidates come from band-key equi-joins of the " +
        "batch's bands vs the index (matched_side 'existing') plus " +
        "the batch self-join ('new') — never all-pairs, never " +
        "re-decoding the corpus — and verify is exact hamming <= 6. " +
        "Planted (all hamming <= 1, so >= 3 of 4 bands match and " +
        "banding CANNOT miss): 10 one-pixel perturbations + 5 exact " +
        "copies + 5 perturbed copies of existing images " +
        "(new-vs-existing), the latter two sets pairing up as 5 " +
        "new-vs-new positives. The band-explode + hamming-verify is " +
        "the SAME ops/BandedHamming helper mm9 uses, so batch and " +
        "incremental stay semantically locked. The oracle regenerates " +
        "both populations and restates both arms — the crawling-" +
        "pipeline shape at 100 TB: per-batch cost proportional to the " +
        "batch, index growth by appending the batch's bands.",
      (s, d) => {
        val index = s.read.parquet(mm10ImageIndexDir(s))
        val newIds: Seq[(Long, Long, Int)] =
          (201L to 210L).map(i => (i, 8 * (i - 200), 1)) ++
            (221L to 225L).map(i => (i, 2 * (i - 220) - 1, 0)) ++
            (231L to 235L).map(i => (i, 2 * (i - 230) - 1, 1))
        // cached: incrementalPairs reads the batch through three plan
        // arms, and the batch's codec work must run once, not thrice.
        // freshBatch (idempotent replay, r14 ADVICE) sits INSIDE the
        // cache so its anti-join also runs once, not per arm.
        val nw = Artifacts.frame(s, d, "mm10_new_hashes")(
          graft.ops.BandedHamming.freshBatch(
            s.read.parquet(mm10ImageIndexDir(s)),
            imageHashes(s, newIds), "doc_id"))
        graft.ops.BandedHamming.incrementalPairs(index,
            nw, "doc_id", "h_lo", "h_hi", 6)
          .orderBy("new_doc", "matched_doc", "matched_side")
      },
      Some(
        """WITH m AS (
          |  SELECT 'e' AS side, id, id AS src, 0 AS d
          |  FROM (SELECT unnest(range(1, 81)) AS id)
          |  UNION ALL
          |  SELECT 'n', id,
          |         CASE WHEN id <= 210 THEN 8*(id-200)
          |              WHEN id <= 225 THEN 2*(id-220)-1
          |              ELSE 2*(id-230)-1 END,
          |         CASE WHEN id BETWEEN 201 AND 210 OR id >= 231 THEN 1 ELSE 0 END
          |  FROM (SELECT unnest(range(201, 211)) AS id
          |        UNION ALL SELECT unnest(range(221, 226))
          |        UNION ALL SELECT unnest(range(231, 236)))),
          |pix AS (
          |  SELECT m.side, m.id, xx.x, yy.y,
          |    CASE WHEN m.d = 1 AND xx.x = 0 AND yy.y = 0
          |         THEN ((3*(m.src%7+1)*xx.x + 5*(m.src%11+1)*yy.y + m.src) % 256 + 1) % 256
          |         ELSE (3*(m.src%7+1)*xx.x + 5*(m.src%11+1)*yy.y + m.src) % 256 END AS v
          |  FROM m, (SELECT unnest(range(0, 18)) AS x) xx,
          |       (SELECT unnest(range(0, 16)) AS y) yy),
          |blk AS (
          |  SELECT side, id, x // 2 AS bx, y // 2 AS by, SUM(v) AS s
          |  FROM pix GROUP BY side, id, x // 2, y // 2),
          |bits AS (
          |  SELECT l.side, l.id, l.bx AS x, l.by AS y, (l.s > r.s) AS bit
          |  FROM blk l JOIN blk r ON l.side = r.side AND l.id = r.id
          |                       AND r.bx = l.bx + 1 AND r.by = l.by
          |  WHERE l.bx <= 7 AND l.by <= 7),
          |hh AS (
          |  SELECT side, id,
          |    CAST(SUM(CASE WHEN bit AND y < 4
          |                  THEN (CAST(1 AS BIGINT) << CAST(y*8+x AS INT))
          |                  ELSE 0 END) AS BIGINT) AS h_lo,
          |    CAST(SUM(CASE WHEN bit AND y >= 4
          |                  THEN (CAST(1 AS BIGINT) << CAST((y-4)*8+x AS INT))
          |                  ELSE 0 END) AS BIGINT) AS h_hi
          |  FROM bits GROUP BY side, id),
          |bands AS (
          |  SELECT side, id, h_lo, h_hi, bb.b AS band,
          |    CASE bb.b WHEN 0 THEN h_lo & 65535
          |              WHEN 1 THEN (h_lo >> 16) & 65535
          |              WHEN 2 THEN h_hi & 65535
          |              ELSE (h_hi >> 16) & 65535 END AS band_val
          |  FROM hh, (SELECT unnest(range(0, 4)) AS b) bb),
          |cand AS (
          |  SELECT DISTINCT n.id AS new_doc, e.id AS matched_doc,
          |         'existing' AS matched_side,
          |         n.h_lo AS lo_n, n.h_hi AS hi_n, e.h_lo AS lo_m, e.h_hi AS hi_m
          |  FROM bands n
          |  JOIN bands e ON n.band = e.band AND n.band_val = e.band_val
          |  WHERE n.side = 'n' AND e.side = 'e'
          |  UNION
          |  SELECT DISTINCT a.id, b.id, 'new',
          |         a.h_lo, a.h_hi, b.h_lo, b.h_hi
          |  FROM bands a
          |  JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
          |              AND a.id < b.id
          |  WHERE a.side = 'n' AND b.side = 'n')
          |SELECT new_doc, matched_doc, matched_side,
          |       CAST(bit_count(xor(lo_n, lo_m)) + bit_count(xor(hi_n, hi_m)) AS BIGINT) AS hamming
          |FROM cand
          |WHERE bit_count(xor(lo_n, lo_m)) + bit_count(xor(hi_n, hi_m)) <= 6
          |ORDER BY new_doc, matched_doc, matched_side""".stripMargin)),

    Q("mm11_audio_near_dup",
      "AUDIO near-dup — the third modality composed with the dedup " +
        "family (completes the modality x dedup matrix: text dd4, " +
        "image mm9/mm10, audio here). Deterministic PCM fixtures go " +
        "through a REAL WAV encode -> javax.sound decode roundtrip " +
        "(PCM-16 is lossless, so decoded samples ARE the formula " +
        "values), then everything downstream is exact integer COLUMN " +
        "work: 32-sample window energies (Sum s^2, exact longs) -> " +
        "64-bit energy-delta fingerprint (the Haitsma-Kalker shape, " +
        "dHash on the time axis) packed as two 32-bit halves -> the " +
        "SAME ops/BandedHamming 4x16-bit banded join and hamming <= 6 " +
        "verify mm9 uses. Planted: 10 one-sample perturbations " +
        "(hamming <= 1 — banding cannot miss) and 5 exact copies; one " +
        "junk payload must dead-letter through the channels/length " +
        "gate, not die or false-collide. The oracle regenerates the " +
        "samples from the formula and restates energies, bits, bands " +
        "and the join verbatim. At 100 TB the codec is the only " +
        "per-byte stage (mapBatched seam); the join is band-keyed.",
      (s, d) => {
        import s.implicits._
        val ids: Seq[(Long, Long, Int)] =
          (1L to 60L).map(i => (i, i, 0)) ++
            (101L to 110L).map(i => (i, 6 * (i - 100), 1)) ++
            (121L to 125L).map(i => (i, i - 120, 0))
        // the decodable-but-wrong-shape and undecodable dead-letters:
        // a junk payload and a stereo clip — both must fall out at the
        // channels/length gate, never reach the banded join
        val junk = Seq(
          (131L, Array[Byte](9, 9, 9, 9)),
          (132L, Multimodal.pcm16Wav(8000, 2, Array.fill[Short](128)(7))))
        val hashes = Artifacts.frame(s, d, "mm11_hashes")(
          audioHashes(s, ids))
        val junkHashes = {
          val px = Multimodal
            .audioSamplesBatched(junk.toDF("doc_id", "payload"),
              "doc_id", "payload").toDF()
          val (lo, hi) = Multimodal.energyFingerprintHalves(col("samples"))
          px.filter(col("channels") === 1 && size(col("samples")) === 2080)
            .select(col("doc_id"), lo.as("h_lo"), hi.as("h_hi"))
        }
        graft.ops.BandedHamming
          .selfPairs(hashes.unionAll(junkHashes), "doc_id", "h_lo", "h_hi", 6)
          .orderBy("doc_a", "doc_b")
      },
      Some(
        """WITH m AS (
          |  SELECT id,
          |         CASE WHEN id <= 60 THEN id
          |              WHEN id <= 120 THEN 6*(id-100)
          |              ELSE id-120 END AS src,
          |         CASE WHEN id BETWEEN 101 AND 110 THEN 1 ELSE 0 END AS d
          |  FROM (SELECT unnest(range(1, 61)) AS id
          |        UNION ALL SELECT unnest(range(101, 111))
          |        UNION ALL SELECT unnest(range(121, 126)))),
          |smp AS (
          |  SELECT m.id, tt.t,
          |    CASE WHEN m.d = 1 AND tt.t = 0
          |         THEN (3*(m.src%7+1)*tt.t + 5*(m.src%11+1)*(tt.t//32) + m.src*11) % 401 - 200 + 1
          |         ELSE (3*(m.src%7+1)*tt.t + 5*(m.src%11+1)*(tt.t//32) + m.src*11) % 401 - 200 END AS v
          |  FROM m, (SELECT unnest(range(0, 2080)) AS t) tt),
          |en AS (
          |  SELECT id, t // 32 AS w, SUM(v*v) AS e
          |  FROM smp GROUP BY id, t // 32),
          |bits AS (
          |  SELECT l.id, l.w, (r.e > l.e) AS bit
          |  FROM en l JOIN en r ON l.id = r.id AND r.w = l.w + 1
          |  WHERE l.w <= 63),
          |hh AS (
          |  SELECT id,
          |    CAST(SUM(CASE WHEN bit AND w < 32
          |                  THEN (CAST(1 AS BIGINT) << CAST(w AS INT))
          |                  ELSE 0 END) AS BIGINT) AS h_lo,
          |    CAST(SUM(CASE WHEN bit AND w >= 32
          |                  THEN (CAST(1 AS BIGINT) << CAST(w-32 AS INT))
          |                  ELSE 0 END) AS BIGINT) AS h_hi
          |  FROM bits GROUP BY id),
          |bands AS (
          |  SELECT id, h_lo, h_hi, bb.b AS band,
          |    CASE bb.b WHEN 0 THEN h_lo & 65535
          |              WHEN 1 THEN (h_lo >> 16) & 65535
          |              WHEN 2 THEN h_hi & 65535
          |              ELSE (h_hi >> 16) & 65535 END AS band_val
          |  FROM hh, (SELECT unnest(range(0, 4)) AS b) bb),
          |cand AS (
          |  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b,
          |         a.h_lo AS lo_a, a.h_hi AS hi_a, b.h_lo AS lo_b, b.h_hi AS hi_b
          |  FROM bands a
          |  JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
          |              AND a.id < b.id)
          |SELECT doc_a, doc_b,
          |       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS BIGINT) AS hamming
          |FROM cand
          |WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 6
          |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("mm12_audio_near_dup_incremental",
      "INCREMENTAL audio near-dup vs a persisted fingerprint index " +
        "(r15 verdict ask #3 — completes the modality x incremental " +
        "matrix: text dd11, grams st7/st12, images mm10, embeddings " +
        "st16, AUDIO here): the existing clips' energy-delta " +
        "fingerprint band table (band, band_val, doc_id, h_lo, h_hi) " +
        "is written ONCE to parquet (mm12AudioIndexDir — the mm10 " +
        "writer verbatim one modality over); a new clip batch pays " +
        "the ONLY codec work (real WAV encode -> javax.sound decode, " +
        "PCM-16 lossless, then exact integer window energies and the " +
        "64-bit Haitsma-Kalker-shaped fingerprint), candidates come " +
        "from band-key equi-joins of the batch's bands vs the index " +
        "(matched_side 'existing') plus the batch self-join ('new') " +
        "— never all-pairs, never re-decoding the corpus — and " +
        "verify is exact hamming <= 6 through the SAME " +
        "ops/BandedHamming.incrementalPairs mm10 uses, with " +
        "freshBatch's idempotent-replay contract above the codec " +
        "cache (a re-submitted clip id reports nothing). Planted " +
        "(all hamming <= 1, so >= 3 of 4 bands match and banding " +
        "CANNOT miss): 10 one-sample perturbations of existing clips " +
        "+ 5 exact copies + 5 perturbed copies (new-vs-existing), " +
        "the latter two sets pairing up as 5 new-vs-new positives. " +
        "The oracle regenerates both populations from the PCM " +
        "formula and restates both arms — per-batch cost " +
        "proportional to the batch, index growth by appending the " +
        "batch's bands (the sql/init_schema.sql:17 dedup-on-replay " +
        "semantics, per modality).",
      (s, d) => {
        val index = s.read.parquet(mm12AudioIndexDir(s))
        val newIds: Seq[(Long, Long, Int)] =
          (301L to 310L).map(i => (i, 6 * (i - 300), 1)) ++
            (321L to 325L).map(i => (i, 2 * (i - 320) - 1, 0)) ++
            (331L to 335L).map(i => (i, 2 * (i - 330) - 1, 1))
        // cached: incrementalPairs reads the batch through three plan
        // arms, and the batch's codec work must run once, not thrice.
        // freshBatch (idempotent replay) sits INSIDE the cache so its
        // anti-join also runs once, not per arm (the mm10 contract).
        val nw = Artifacts.frame(s, d, "mm12_new_hashes")(
          graft.ops.BandedHamming.freshBatch(
            s.read.parquet(mm12AudioIndexDir(s)),
            audioHashes(s, newIds), "doc_id"))
        graft.ops.BandedHamming.incrementalPairs(index,
            nw, "doc_id", "h_lo", "h_hi", 6)
          .orderBy("new_doc", "matched_doc", "matched_side")
      },
      Some(
        """WITH m AS (
          |  SELECT 'e' AS side, id, id AS src, 0 AS d
          |  FROM (SELECT unnest(range(1, 61)) AS id)
          |  UNION ALL
          |  SELECT 'n', id,
          |         CASE WHEN id <= 310 THEN 6*(id-300)
          |              WHEN id <= 325 THEN 2*(id-320)-1
          |              ELSE 2*(id-330)-1 END,
          |         CASE WHEN id BETWEEN 301 AND 310 OR id >= 331 THEN 1 ELSE 0 END
          |  FROM (SELECT unnest(range(301, 311)) AS id
          |        UNION ALL SELECT unnest(range(321, 326))
          |        UNION ALL SELECT unnest(range(331, 336)))),
          |smp AS (
          |  SELECT m.side, m.id, tt.t,
          |    CASE WHEN m.d = 1 AND tt.t = 0
          |         THEN (3*(m.src%7+1)*tt.t + 5*(m.src%11+1)*(tt.t//32) + m.src*11) % 401 - 200 + 1
          |         ELSE (3*(m.src%7+1)*tt.t + 5*(m.src%11+1)*(tt.t//32) + m.src*11) % 401 - 200 END AS v
          |  FROM m, (SELECT unnest(range(0, 2080)) AS t) tt),
          |en AS (
          |  SELECT side, id, t // 32 AS w, SUM(v*v) AS e
          |  FROM smp GROUP BY side, id, t // 32),
          |bits AS (
          |  SELECT l.side, l.id, l.w, (r.e > l.e) AS bit
          |  FROM en l JOIN en r ON l.side = r.side AND l.id = r.id
          |                     AND r.w = l.w + 1
          |  WHERE l.w <= 63),
          |hh AS (
          |  SELECT side, id,
          |    CAST(SUM(CASE WHEN bit AND w < 32
          |                  THEN (CAST(1 AS BIGINT) << CAST(w AS INT))
          |                  ELSE 0 END) AS BIGINT) AS h_lo,
          |    CAST(SUM(CASE WHEN bit AND w >= 32
          |                  THEN (CAST(1 AS BIGINT) << CAST(w-32 AS INT))
          |                  ELSE 0 END) AS BIGINT) AS h_hi
          |  FROM bits GROUP BY side, id),
          |bands AS (
          |  SELECT side, id, h_lo, h_hi, bb.b AS band,
          |    CASE bb.b WHEN 0 THEN h_lo & 65535
          |              WHEN 1 THEN (h_lo >> 16) & 65535
          |              WHEN 2 THEN h_hi & 65535
          |              ELSE (h_hi >> 16) & 65535 END AS band_val
          |  FROM hh, (SELECT unnest(range(0, 4)) AS b) bb),
          |cand AS (
          |  SELECT DISTINCT n.id AS new_doc, e.id AS matched_doc,
          |         'existing' AS matched_side,
          |         n.h_lo AS lo_n, n.h_hi AS hi_n, e.h_lo AS lo_m, e.h_hi AS hi_m
          |  FROM bands n
          |  JOIN bands e ON n.band = e.band AND n.band_val = e.band_val
          |  WHERE n.side = 'n' AND e.side = 'e'
          |  UNION
          |  SELECT DISTINCT a.id, b.id, 'new',
          |         a.h_lo, a.h_hi, b.h_lo, b.h_hi
          |  FROM bands a
          |  JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
          |              AND a.id < b.id
          |  WHERE a.side = 'n' AND b.side = 'n')
          |SELECT new_doc, matched_doc, matched_side,
          |       CAST(bit_count(xor(lo_n, lo_m)) + bit_count(xor(hi_n, hi_m)) AS BIGINT) AS hamming
          |FROM cand
          |WHERE bit_count(xor(lo_n, lo_m)) + bit_count(xor(hi_n, hi_m)) <= 6
          |ORDER BY new_doc, matched_doc, matched_side""".stripMargin)),

    Q("mm2_chunk_sample",
      "Chunk + stride-sample the binary payload (frame-sampling shape): " +
        "16-byte chunks, every 4th kept, exploded to rows. The length-" +
        "deterministic stub makes even the chunk geometry fully " +
        "hash-oracled.",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("payload", Multimodal.payload(col("text")))
          .withColumn("meta", Multimodal.fakeDecodeMeta(col("payload")))
          .withColumn("chunks", Multimodal.chunks(col("payload"), 16))
          .withColumn("sampled", Multimodal.sampleEvery(col("chunks"), 4))
          .select(
            col("doc_id"),
            col("meta.format").as("format"),
            posexplode(col("sampled")).as(Seq("chunk_idx", "chunk")))
          .select(col("doc_id"), col("format"), col("chunk_idx"),
            length(col("chunk")).as("chunk_bytes")),
      Some(
        """SELECT doc_id,
          |  CASE len % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
          |  CAST(j // 4 AS INT) AS chunk_idx,
          |  CAST(CASE WHEN j < n_chunks - 1 THEN 16
          |            ELSE len - 16 * (n_chunks - 1) END AS INT) AS chunk_bytes
          |FROM (
          |  SELECT doc_id, len, n_chunks, unnest(range(0, n_chunks)) AS j
          |  FROM (
          |    SELECT doc_id, octet_length(encode(text)) AS len,
          |           CAST(ceil(octet_length(encode(text)) / 16.0) AS BIGINT) AS n_chunks
          |    FROM documents))
          |WHERE j % 4 = 0""".stripMargin)),
  )
}
