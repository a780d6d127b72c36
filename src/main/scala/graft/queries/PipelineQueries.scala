package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{ParquetFooters, Tables}
import graft.dedup.{Clusters, MinHash, SimHash}
import graft.multimodal.Media
import graft.recs.Als
import graft.similarity.UserCosine

/** Training-data-pipeline queries wrapping the dedup / multimodal / recs
  * library modules. The dedup family carries DIFFERENTIAL oracles: DuckDB
  * recomputes the exact brute-force answer (all-pairs Jaccard for q46,
  * all-pairs Hamming over SQL-replayable polyHash62 fingerprints for
  * q47/q48). For q47/q48 the pigeonhole blocking has recall exactly 1, so
  * the match is a guarantee; for q46 it is an empirical gate on this
  * corpus (see the q46 note on LSH boundary recall).
  * ALS training and media decoding — whose raw float outputs have no
  * portable oracle — are driver-gated through envelope oracles (q80/q276
  * fit + model-selection contracts, q277 pinned-fixture decode) with the
  * float internals unit-tested against planted fixtures in the ScalaTest
  * specs. q81 (exact user cosine) is fully oracle-verified.
  */
object PipelineQueries {

  /** DuckDB replica of MinHash.shingles (k=3, n-k+1 windows, distinct,
    * empty-token filter) — the exact-Jaccard half of the q46 differential
    * oracle. */
  private val ShinglesSql =
    """toks AS (SELECT doc_id,
        list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
          array_to_string(toks[i:i+2], ' ') AS shingle
        FROM toks, unnest(generate_series(1, greatest(len(toks) - 2, 0)))
          AS t(i)
        WHERE array_to_string(toks[i:i+2], ' ') <> '')"""

  /** DuckDB replica of SimHash.fingerprints over [[SimHash.polyHash62]]:
    * per-token double 31-bit polynomial roll, ±1 votes per bit, sign
    * fingerprint. */
  private val PolyFingerprintSql =
    """wtoks AS (
        SELECT doc_id, t.tok FROM documents,
          unnest(string_split(text, ' ')) AS t(tok) WHERE t.tok <> ''),
      hashed AS (
        SELECT doc_id,
          list_reduce(list_prepend(0::BIGINT, list_transform(
              generate_series(1, length(tok)), i -> unicode(tok[i:i]))),
            (a, c) -> (a * 31 + c) % 2147483647)
          + (list_reduce(list_prepend(0::BIGINT, list_transform(
              generate_series(1, length(tok)), i -> unicode(tok[i:i]))),
            (a, c) -> (a * 37 + c) % 2147483647) << 31) AS h
        FROM wtoks),
      votes AS (
        SELECT doc_id, b.bit,
          sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM hashed, unnest(generate_series(0, 61)) AS b(bit)
        GROUP BY 1, 2),
      fp AS (
        SELECT doc_id, cast(sum(CASE WHEN v > 0 THEN 1::BIGINT << bit
          ELSE 0 END) AS bigint) AS simhash
        FROM votes GROUP BY 1)"""

  // ---------------------------------------------------------------- q46
  /** MinHash+LSH near-dup pairs over documents, differentially verified:
    * DuckDB recomputes brute-force all-pairs Jaccard, and a hash match
    * shows the banded-LSH path (signatures → buckets → candidate join →
    * verify) lost no pair ON THIS CORPUS. That is an empirical regression
    * gate, not a recall proof — LSH candidate probability at the j=0.3
    * boundary is only ~6% per band combination (b=8, r=4); the gate holds
    * because every true pair here sits far above the boundary, where the
    * s-curve is ≈1. Recall at the ≈1 operating point is a TESTED claim:
    * DedupSpec's planted-pair test builds pairs at exactly j=59/61≈0.967
    * (where P(candidate)=1-(1-s⁴)⁸≈1-2e-8) plus decoys at j=47/73≈0.644
    * just below its 0.7 threshold, and asserts LSH returns precisely the
    * planted set, brute-force-confirmed. A corpus with borderline pairs
    * would still need a higher verification threshold. */
  val q46MinhashNeardup = Q(
    "q46_minhash_neardup",
    (s, d) => MinHash.nearDuplicates(
        Tables.documents(s, d), "doc_id", "text",
        shingleLen = 3, numPerms = 32, bands = 8, threshold = 0.3)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH $ShinglesSql,
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, i / (sa.sz + sb.sz - i) AS jaccard
      FROM inter JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE i / (sa.sz + sb.sz - i) >= 0.3 ORDER BY id_a, id_b"""))

  // ---------------------------------------------------------------- q47
  /** SimHash near-dup pairs via pigeonhole blocking, over the
    * cross-engine polyHash62 verification hash. The oracle recomputes the
    * fingerprints in SQL and brute-forces ALL pairs within the Hamming
    * bound — a hash match proves both the fingerprint math and that
    * blocking's total recall held (production runs use xxhash64 via the
    * same code path, differentially tested in DedupSpec). */
  val q47SimhashNeardup = Q(
    "q47_simhash_neardup",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      SimHash.nearDuplicates(
          Tables.documents(s, d), "doc_id", "text", maxHamming = 4,
          tokenHash = graft.functions.GraftFunctions.polyHash62,
          totalBits = 62, hashDistinct = true)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH $PolyFingerprintSql
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
      ORDER BY id_a, id_b"""))

  // ---------------------------------------------------------------- q132
  /** The CAPPED SimHash path (maxBlockSize — the 100 TB skew guard q47's
    * exact form doesn't exercise): the oracle replays the full rule —
    * block decomposition, per-(block, value) sizes, the <= cap filter,
    * candidate pairs, Hamming cut — so a hash match verifies the cap's
    * semantics (drop oversized blocks BEFORE pairing), not just its
    * output. Cap 2 is chosen to actually bite on this corpus's
    * boilerplate block values. */
  val q132SimhashCapped = Q(
    "q132_simhash_capped",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      SimHash.nearDuplicates(
          Tables.documents(s, d), "doc_id", "text", maxHamming = 4,
          tokenHash = graft.functions.GraftFunctions.polyHash62,
          totalBits = 62, hashDistinct = true, maxBlockSize = Some(2))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH $PolyFingerprintSql,
      keyed AS (
        SELECT doc_id, simhash, b.blk,
          (simhash >> (b.blk * 12)) & 4095 AS bv
        FROM fp, (SELECT unnest(generate_series(0, 4)) AS blk) b),
      small AS (
        SELECT k.* FROM keyed k
        JOIN (SELECT blk, bv FROM keyed GROUP BY 1, 2
              HAVING count(*) <= 2) sz
          ON k.blk = sz.blk AND k.bv = sz.bv),
      cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          a.simhash AS ha, b.simhash AS hb
        FROM small a JOIN small b
          ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, bit_count(xor(ha, hb)) AS hamming
      FROM cands WHERE bit_count(xor(ha, hb)) <= 4
      ORDER BY id_a, id_b"""))

  // ---------------------------------------------------------------- q48
  /** Document fingerprinting: the compact per-document sketch a pipeline
    * persists — distinct-shingle cardinality + the rolling-hash simhash —
    * fully recomputed by the oracle (the xxhash64 minhash signature
    * variant remains the q46 production path). */
  val q48Fingerprints = Q(
    "q48_fingerprints",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.documents(s, d)
      val counts = MinHash.shingles(docs, "doc_id", "text", k = 3)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      val simf = SimHash.fingerprints(docs, "doc_id", "text",
        tokenHash = graft.functions.GraftFunctions.polyHash62,
        bits = 62, hashDistinct = true)
      counts.join(simf, Seq("doc_id")).orderBy(col("doc_id"))
    },
    Some(s"""WITH $ShinglesSql, $PolyFingerprintSql
      SELECT s.doc_id, s.n_shingles, fp.simhash
      FROM (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1) s
      JOIN fp ON s.doc_id = fp.doc_id ORDER BY s.doc_id"""))

  // ---------------------------------------------------------------- q60
  /** Multimodal plumbing: binary payload column + typed metadata through a
    * partition-local (stub-)decode into a columnar feature frame. Fully
    * driver-oracled: the payloads are the documents' UTF-8 bytes, so the
    * per-type row counts and byte totals are exact SQL
    * (`octet_length(encode(text))`), and the 64-bit polynomial
    * payload-hash distinct count equals `count(DISTINCT text)` — a
    * deterministic-given-data equality (collision-free on this corpus,
    * and any hash/plumbing bug that conflates or splits payloads flips
    * it). The decode MATH is gated separately by the q277 fixture
    * envelope + MediaSpec. */
  val q60MediaFeatures = Q(
    "q60_media_features",
    (s, d) => {
      val feats = Media.extractFeatures(
        Media.fromDocuments(Tables.documents(s, d)))
      feats.toDF()
        .groupBy(col("media_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("byte_len")).as("total_bytes"),
          countDistinct(col("payload_hash")).as("n_distinct_payloads"))
        .orderBy(col("media_type"))
    },
    Some("""SELECT
        CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
          ELSE 'video' END AS media_type,
        cast(count(*) AS bigint) AS n,
        cast(sum(octet_length(encode(text))) AS bigint) AS total_bytes,
        cast(count(DISTINCT text) AS bigint) AS n_distinct_payloads
      FROM documents GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q128
  /** Video frame-sampling fan-out (Media.sampleFrames over the documents-
    * as-media table): the per-frame decode is stubbed, but the SELECTION —
    * uniform 250 ms stride, +1 fencepost, 16-frame cap, video rows only —
    * is pure arithmetic on duration_ms, so the oracle replays the entire
    * fan-out with generate_series. This pins the plumbing the way q60
    * cannot (DuckDB can't decode media, but it can count frames). */
  val q128FrameSample = Q(
    "q128_frame_sample",
    (s, d) => {
      val frames = Media.sampleFrames(
        Media.fromDocuments(Tables.documents(s, d)),
        intervalMs = 250L, maxFrames = 16)
      frames.toDF()
        .select(col("id"), col("frame_idx"), col("ts_ms"))
        .orderBy(col("id"), col("frame_idx"))
    },
    Some("""SELECT doc_id AS id, cast(g AS int) AS frame_idx,
        g * 250 AS ts_ms
      FROM documents,
        unnest(generate_series(0,
          least(15, n_chars * 10 // 250))) AS t(g)
      WHERE doc_id % 3 = 2
      ORDER BY id, frame_idx"""))

  // ---------------------------------------------------------------- q80
  /** ALS end-to-end on (customer × part) purchase counts from lineitem ⋈
    * orders: dense-id assignment, confidence transform, implicit-prefs
    * training, top-5 recommendations for the first 500 users — reduced to
    * the [[Als.fitEnvelope]] contract frame (q268 envelope recipe): the
    * id-domain counts are exact SQL over the raw purchase pairs, the
    * factor-matrix shape and the recommendForUserSubset batch contract
    * (reference recommend.py:293-305) are deterministic-given-data
    * booleans the oracle pins TRUE. Raw factor/score floats stay
    * spec-gated (PipelineSpec seeded-RMSE + round-trip). */
  val q80AlsRecommend = Q(
    "q80_als_recommend",
    (s, d) => {
      val purchases = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_partkey"))
      val pc = Als.buildPlaycounts(purchases, "o_custkey", "l_partkey")
      Als.fitEnvelope(pc, rank = 8, maxIter = 5, subsetMax = 500, k = 5)
    },
    Some("""WITH p AS (SELECT o_custkey AS u, l_partkey AS i
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      c AS (SELECT count(DISTINCT u) AS nu, count(DISTINCT i) AS ni FROM p)
      SELECT cast(nu AS bigint) AS n_users, cast(ni AS bigint) AS n_items,
        true AS user_factors_ok, true AS item_factors_ok,
        true AS factor_dim_ok,
        cast(least(500, nu) AS bigint) AS rec_users,
        cast(least(500, nu) * least(5, ni) AS bigint) AS rec_rows,
        true AS rec_ranks_ok, true AS rec_scores_ok, true AS rec_items_ok
      FROM c"""))

  // --------------------------------------------------------------- q276
  /** ALS model-selection envelope (reference train_models.py:78 seeded
    * 5:1 split, here a hash of each row's ids; RMSE metric): split
    * bookkeeping exact, realized fraction inside a wide binomial band,
    * validation RMSE under a DATA-DERIVED bound: the zero predictor's RMSE
    * on the same validation rows, times 1.05. Measured with the former
    * `randomSplit` (ProbeAls of commit ee39c87, 2026-08-15): 0.889 at sf0.001,
    * 0.957 at sf0.01, 0.995 at sf0.1 — labels are capped playcounts ≈1 on
    * this near-one-purchase-per-pair corpus, so the zero predictor scores
    * ≈1.0, the measured trend rises TOWARD it but not past it, and a
    * DIVERGED fit (exploding factors) or a broken confidence transform
    * (labels ≠ ≈1) lands at a large multiple. Ratio gate is scale-free
    * (round-9 ADVICE: a fixed absolute 1.05 pinches as sf grows). */
  val q276AlsValidation = Q(
    "q276_als_validation",
    (s, d) => {
      val purchases = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_partkey"))
      val pc = Als.buildPlaycounts(purchases, "o_custkey", "l_partkey")
      Als.validationEnvelope(pc, ratioBound = 1.05)
    },
    Some("""WITH p AS (SELECT DISTINCT o_custkey, l_partkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      SELECT cast(count(*) AS bigint) AS n_playcounts,
        true AS split_total_ok, true AS split_frac_ok, true AS rmse_ok
      FROM p"""))

  // --------------------------------------------------------------- q277
  /** Media-decode envelope: the [[graft.multimodal.MediaFixtures]]
    * payloads (valid PNG with deflate+CRC, PCM16 WAV, JPEG SOF, GIF
    * descriptor, a text blob, and a PNG resized through the full
    * decode→nearest-neighbor→re-encode loop) run through the REAL
    * distributed [[Media.extractFeatures]] path; the decoded dimensions /
    * sample rates / durations are exact integers the oracle pins, and the
    * float outputs (mean luma, RMS) collapse to tolerance booleans
    * against the analytically-known values (MediaSpec's pixel-exact
    * assertions, now driver-gated). */
  val q277MediaDecode = Q(
    "q277_media_decode",
    (s, d) => {
      import graft.multimodal.{Media, MediaFixtures => F}
      import s.implicits._
      val quad = F.buildPng(2, 2, (x, y) =>
        if (x == 0 && y == 0) (255, 0, 0)
        else if (x == 1 && y == 0) (0, 255, 0)
        else if (x == 0 && y == 1) (0, 0, 255) else (255, 255, 255))
      val resized = Media.resizeImages(
        s.createDataset(Seq(Media.MediaRow(0L, "image", quad, 0, 0L))),
        4, 4).head().payload
      val gradLuma = (for { y <- 0 until 16; x <- 0 until 16 } yield
        0.299 * (x * 16) + 0.587 * (y * 16) + 0.114 * ((x + y) * 8))
        .sum / 256.0 / 255.0
      val quadLuma = Seq((255, 0, 0), (0, 255, 0), (0, 0, 255),
        (255, 255, 255))
        .map { case (r, g, b) => 0.299 * r + 0.587 * g + 0.114 * b }
        .sum / 4.0 / 255.0
      val rows = Seq(
        Media.MediaRow(1L, "image",
          F.buildPng(4, 2, (x, _) =>
            if (x < 2) (255, 255, 255) else (0, 0, 0)), 0, 0L),
        Media.MediaRow(2L, "image",
          F.buildPng(16, 16, (x, y) => (x * 16, y * 16, (x + y) * 8)),
          0, 0L),
        Media.MediaRow(3L, "audio", F.buildWav(8000, 4000, 16384), 0, 0L),
        Media.MediaRow(4L, "image", F.buildJpegHeader(640, 480), 0, 0L),
        Media.MediaRow(5L, "image", F.buildGif(320, 240), 0, 0L),
        Media.MediaRow(6L, "text",
          "just some text".getBytes("UTF-8"), 0, 0L),
        Media.MediaRow(7L, "image", resized, 0, 0L))
      val expectedLuma = Map(1L -> 0.5, 2L -> gradLuma, 7L -> quadLuma)
      val expectedRms = Map(3L -> 0.5)
      Media.extractFeatures(s.createDataset(rows)).toDF()
        .select(
          element_at(
            typedLit(Map(1L -> "png_half", 2L -> "png_gradient",
              3L -> "wav_pcm16", 4L -> "jpeg_header", 5L -> "gif_header",
              6L -> "text_stub", 7L -> "png_resized")), col("id"))
            .as("fixture"),
          col("decoder"),
          // the stub's synthetic dims are a stand-in, not decode math —
          // masked here, pinned NULL by the oracle
          when(col("decoder") === "stub", lit(null))
            .otherwise(col("width")).cast("long").as("width"),
          when(col("decoder") === "stub", lit(null))
            .otherwise(col("height")).cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("audio_duration_ms").as("audio_ms"),
          coalesce(element_at(typedLit(expectedLuma), col("id")), lit(-1.0))
            .as("want_luma"),
          col("mean_luma"),
          coalesce(element_at(typedLit(expectedRms), col("id")), lit(0.0))
            .as("want_rms"),
          col("rms"))
        .select(col("fixture"), col("decoder"), col("width"), col("height"),
          col("channels"), col("sample_rate"), col("audio_ms"),
          (col("want_luma") === -1.0 ||
            abs(col("mean_luma") - col("want_luma")) < 1e-9).as("luma_ok"),
          (abs(col("rms") - col("want_rms")) < 1e-9).as("rms_ok"))
        .orderBy(col("fixture"))
    },
    Some("""SELECT fixture, decoder,
        cast(width AS bigint) AS width, cast(height AS bigint) AS height,
        cast(channels AS bigint) AS channels,
        cast(sample_rate AS bigint) AS sample_rate,
        cast(audio_ms AS bigint) AS audio_ms, luma_ok, rms_ok
      FROM (VALUES
        ('gif_header',  'gif-header',  320, 240, 3, 0, 0, true, true),
        ('jpeg_header', 'jpeg-header', 640, 480, 3, 0, 0, true, true),
        ('png_gradient','png',          16,  16, 3, 0, 0, true, true),
        ('png_half',    'png',           4,   2, 3, 0, 0, true, true),
        ('png_resized', 'png',           4,   4, 3, 0, 0, true, true),
        ('text_stub',   'stub',        NULL, NULL, 3, 0, 0, true, true),
        ('wav_pcm16',   'wav',           0,   0, 1, 8000, 500, true, true)
      ) AS t(fixture, decoder, width, height, channels, sample_rate,
             audio_ms, luma_ok, rms_ok)
      ORDER BY fixture"""))

  // ---------------------------------------------------------------- q81
  /** Exact user–user cosine over event-type play vectors: integer dot
    * products, one sqrt at the end — fully oracle-verified. */
  val q81UserCosine = Q(
    "q81_user_cosine",
    (s, d) => UserCosine.exact(
        Tables.events(s, d), "user_id", "event_type", minCosine = 0.9)
      .orderBy(col("u1"), col("u2")),
    Some("""WITH counts AS (
        SELECT user_id AS u, event_type AS it, count(*) AS c FROM events
        GROUP BY 1, 2),
      norms AS (SELECT u, sum(c * c) AS norm2 FROM counts GROUP BY 1),
      dots AS (
        SELECT a.u AS u1, b.u AS u2, sum(a.c * b.c) AS dot
        FROM counts a JOIN counts b ON a.it = b.it AND a.u < b.u
        GROUP BY 1, 2)
      SELECT u1, u2, cast(dot as bigint) AS dot,
        round(dot / sqrt(cast(n1.norm2 * n2.norm2 AS double)), 6) AS cosine_r
      FROM dots
      JOIN norms n1 ON u1 = n1.u JOIN norms n2 ON u2 = n2.u
      WHERE dot / sqrt(cast(n1.norm2 * n2.norm2 AS double)) >= 0.9
      ORDER BY u1, u2"""))

  // ---------------------------------------------------------------- q125
  /** DIMSUM similarity plumbing, differentially oracled — and the
    * REFERENCE-FAITHFUL form: similarity/user.py:114 runs
    * `columnSimilarities()` with no threshold, i.e. exactly this
    * threshold-0 call. It is verifyOnly on COST grounds alone (its
    * output is the full quadratic pair closure — inherent to the exact
    * form, ~15 s at sf0.1 and unbounded at the 100× tier), not because
    * the reference avoids it; q280 is this engine's thresholded
    * production variant, envelope-gated against the exact answer.
    * At threshold 0 the DIMSUM sampler saturates (gamma → ∞, inclusion
    * probability 1 — Zadeh & Carlson's "Dimension Independent Matrix
    * Square", public), so `RowMatrix.columnSimilarities(0)` must emit
    * EXACT cosine for every co-occurring user pair. A rounded-cosine compare would be FP-fragile
    * — DIMSUM sums per-item quotients where a single divide is exact, and
    * some cosines here land exactly on dyadic rounding boundaries
    * (0.9140625 in this corpus) — so instead the query recovers the
    * integer DOT PRODUCT from each DIMSUM cosine (× √(n1·n2), rounded:
    * accumulated error ~1e-12 against an integer margin of 0.5) and the
    * oracle recomputes the exact dots brute-force. An all-integer hash
    * match over every pair verifies the whole distributed pipeline:
    * item-id assignment, CoordinateMatrix layout, column magnitudes, pair
    * emission. The sampling path (threshold > 0) stays spec-verified —
    * its output is probabilistic by design. */
  val q125DimsumExact = Q(
    "q125_dimsum_exact",
    (s, d) => {
      val ev = Tables.events(s, d)
      val sims = UserCosine.dimsum(ev, "user_id", "event_type",
        threshold = 0.0)
      val norms = ev.groupBy(col("user_id").as("u"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("u")).agg(sum(col("c") * col("c")).as("norm2"))
      sims
        .join(norms.select(col("u").as("u1"), col("norm2").as("n1")), Seq("u1"))
        .join(norms.select(col("u").as("u2"), col("norm2").as("n2")), Seq("u2"))
        .select(col("u1"), col("u2"),
          round(col("cosine") * sqrt((col("n1") * col("n2")).cast("double")))
            .cast("long").as("dot"))
        .orderBy(col("u1"), col("u2"))
    },
    Some("""WITH counts AS (
        SELECT user_id AS u, event_type AS it, count(*) AS c FROM events
        GROUP BY 1, 2)
      SELECT a.u AS u1, b.u AS u2,
        cast(sum(a.c * b.c) AS bigint) AS dot
      FROM counts a JOIN counts b ON a.it = b.it AND a.u < b.u
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    verifyOnly = true)

  // ---------------------------------------------------------------- q280
  /** DIMSUM-estimator audit — `UserCosine.dimsum(τ = 0.1)` over the
    * full user×recording play matrix, gated by a bounded-error
    * envelope against the EXACT cosine on a deterministic audit
    * sub-population. The reference runs the exact form:
    * similarity/user.py:114 calls `columnSimilarities()` with NO
    * threshold (q125, verify tier on cost grounds).
    *
    * VERIFY TIER (round 11, cost grounds, measured): at 100× the
    * estimator's sampling cutoff √γ ≈ 37.7 exceeds nearly every user
    * magnitude, so its "sampled" pair stream is the full quadratic
    * closure through one un-chunked RDD shuffle — 57+ GB of spill,
    * disk-full. The PRODUCTION thresholded path is q281's
    * normalized-counts chunked finder (exact, output-pruned inside
    * each chunk job); this query's role is verifying the estimator's
    * math at envelope scale, which sf0.01 does.
    *
    * Audit sample frame (stated scope): the exact side computes pairs
    * where BOTH users ≡ 0 mod 7 — ~2% of the pair space — so the exact
    * leg stays output-sized while the DIMSUM side is the full
    * production run; the envelope therefore certifies the estimator on
    * that sub-population and extrapolates by uniformity of the mod-7
    * cut (id-independent of play behavior), not by covering every pair.
    * Zadeh & Carlson's published bound concentrates entries with true
    * cosine ≥ τ; measured (ProbeDimsum of commit ee39c87, 2026-08-15):
    * recall 1.0 and max
    * relative error ≤ 4.9e-6 at sf0.001/0.01/0.1 — at this τ the
    * oversampling γ makes every inclusion probability 1, so the answer
    * is deterministically near-exact and the pinned bands (recall ≥
    * 0.95, max rel ≤ 0.05, mean rel ≤ 0.01) gate a broken estimator or
    * magnitude pipeline with four orders of magnitude of margin. */
  val q280DimsumThreshold = Q(
    "q280_dimsum_threshold",
    (s, d) => {
      val plays = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user_id"),
          col("l_partkey").as("recording_mbid"))
      val est = UserCosine
        .dimsum(plays, "user_id", "recording_mbid", threshold = 0.1)
        .select(col("u1"), col("u2"), col("cosine").as("est"))
      val audit = UserCosine.exact(
        plays.filter(col("user_id") % 7 === 0),
        "user_id", "recording_mbid", minCosine = 0.1)
        .select(col("u1").cast("long").as("u1"),
          col("u2").cast("long").as("u2"),
          col("cosine_r").as("true_cos"))
      val rel = abs(col("est") - col("true_cos")) / col("true_cos")
      audit.join(est, Seq("u1", "u2"), "left")
        .agg(
          count(lit(1)).as("n_audit"),
          (coalesce(sum(when(col("est").isNotNull, 1L).otherwise(0L)),
            lit(0L)).cast("double") >=
            count(lit(1)).cast("double") * 0.95).as("recall_ok"),
          (coalesce(max(rel), lit(0.0)) <= 0.05).as("maxrel_ok"),
          (coalesce(avg(rel), lit(0.0)) <= 0.01).as("meanrel_ok"))
    },
    Some("""WITH sub AS (
        SELECT o_custkey AS u, l_partkey AS it, count(*) AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_custkey % 7 = 0 GROUP BY 1, 2),
      norms AS (SELECT u, sum(c * c) AS norm2 FROM sub GROUP BY 1),
      dots AS (SELECT a.u AS u1, b.u AS u2, sum(a.c * b.c) AS dot
        FROM sub a JOIN sub b ON a.it = b.it AND a.u < b.u GROUP BY 1, 2)
      SELECT cast(count(*) AS bigint) AS n_audit, true AS recall_ok,
        true AS maxrel_ok, true AS meanrel_ok
      FROM dots JOIN norms n1 ON u1 = n1.u JOIN norms n2 ON u2 = n2.u
      WHERE dot / sqrt(cast(n1.norm2 * n2.norm2 AS double)) >= 0.1"""),
    verifyOnly = true)

  // ---------------------------------------------------------------- q139
  /** INCREMENTAL MinHash near-dup (MinHash.incrementalNearDuplicates):
    * the corpus (first 80% of doc ids) builds its LSH bucket index ONCE
    * and persists it to parquet; the new batch (top 20%) then dedups
    * against that index — corpus signatures never recomputed, corpus text
    * rescanned only for the handful of docs that land in candidate pairs.
    * This is the daily-ingest shape at 100 TB: batch-sized work against
    * an arbitrarily large corpus.
    *
    * The oracle is q46's brute-force Jaccard restricted to pairs touching
    * the batch — so the hash verdict proves the incremental path finds
    * exactly the pairs the full recompute would (on this corpus; same
    * empirical-gate caveat as q46, same planted-pair recall backing in
    * DedupSpec). */
  val q139IncrementalNeardup = Q(
    "q139_incremental_neardup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // scale-relative 80/20 split (a fixed id cut would invert the
      // corpus/batch roles at larger SFs); the cut is a scalar anchor the
      // oracle recomputes identically
      val cut = (docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1L) *
        4L / 5L
      val corpus = docs.filter(col("doc_id") < cut)
      val batch = docs.filter(col("doc_id") >= cut)
      val work = graft.core.TempWork.dir("graft-q139")
      // one-time index build (amortized across every future batch)
      MinHash.buckets(
          MinHash.signatures(
            MinHash.shingles(corpus, "doc_id", "text", k = 3),
            "doc_id", numPerms = 32),
          "doc_id", numPerms = 32, bands = 8)
        .write.parquet(s"$work/index")
      MinHash.incrementalNearDuplicates(
          batch, corpus, ParquetFooters.read(s, s"$work/index"),
          "doc_id", "text", shingleLen = 3, numPerms = 32, bands = 8,
          threshold = 0.3)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH $ShinglesSql,
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, i / (sa.sz + sb.sz - i) AS jaccard
      FROM inter JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE i / (sa.sz + sb.sz - i) >= 0.3
        AND id_b >= (SELECT (max(doc_id) + 1) * 4 // 5 FROM documents)
      ORDER BY id_a, id_b"""))

  // ---------------------------------------------------------------- q145
  /** Duplicate-CLUSTER resolution (Clusters.assign): q47's SimHash pairs
    * closed under transitivity into components, every document assigned
    * its cluster id (min member id), cluster size, and keeper flag — the
    * step that turns pair detection into an actual dedup pass. The Spark
    * side iterates distributed min-label propagation to a fixpoint; the
    * oracle computes the same closure with a recursive CTE, so a hash
    * match verifies the iteration's fixpoint against a from-first-
    * principles transitive closure — two entirely different algorithms
    * agreeing on every assignment. */
  val q145DupClusters = Q(
    "q145_dup_clusters",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.documents(s, d)
      // componentEdges: identical components to the full pair set with
      // quadratically fewer edges (dup families star-collapse onto
      // their min id; one edge per fingerprint-group pair) — the
      // oracle's full pair closure proves the equivalence
      val edges = SimHash.componentEdges(
        docs, "doc_id", "text", maxHamming = 4,
        tokenHash = graft.functions.GraftFunctions.polyHash62,
        totalBits = 62, hashDistinct = true)
      Clusters.assign(docs, "doc_id", edges)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE $PolyFingerprintSql,
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 4),
      edges AS (
        SELECT id_a AS s, id_b AS t FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(s, t) AS (
        SELECT s, t FROM edges
        UNION
        SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
      comp AS (
        SELECT d.doc_id,
          least(d.doc_id, coalesce(min(r.t), d.doc_id)) AS component
        FROM documents d LEFT JOIN reach r ON d.doc_id = r.s
        GROUP BY d.doc_id)
      SELECT doc_id, component,
        count(*) OVER (PARTITION BY component) AS cluster_size,
        (doc_id = component) AS is_keeper
      FROM comp ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q182
  /** q145's cluster assignment computed by the OTHER algorithm
    * ([[graft.dedup.Clusters.connectedComponentsStar]], Kiveris et al.
    * large-star/small-star — O(log² n) rounds on any topology where
    * min-label propagation needs O(diameter)): identical edge input,
    * identical recursive-CTE oracle, so a green row proves the star
    * fixpoint equals both the propagation fixpoint AND the
    * from-first-principles transitive closure — three algorithms, one
    * answer. This is the fallback to dispatch when a pair graph's
    * diameter is unknown or adversarial (SCALE.md).
    *
    * Round-10 100× fix: this row originally fed the star loop the FULL
    * near-dup pair listing — on the dup-heavy corpus that is the
    * quadratic q47 exact-listing shape (dup families of size g emit
    * ~g²/2 pairs), and ~30 rounds of edge-set shuffles over it blew the
    * 100× probe's budget while q145 (same components through
    * [[graft.dedup.SimHash.componentEdges]]'s star-collapsed linear
    * edge set) finished in 38 s. Component-equivalent edge reduction is
    * input discipline, not an algorithm property — the star
    * algorithm gets the same reduced edges, keeps its
    * diameter-adversarial robustness claim, and the oracle still pins
    * the full from-first-principles closure. */
  val q182ClustersStar = Q(
    "q182_clusters_star",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.documents(s, d)
      val edges = SimHash.componentEdges(
        docs, "doc_id", "text", maxHamming = 4,
        tokenHash = graft.functions.GraftFunctions.polyHash62,
        totalBits = 62, hashDistinct = true)
      Clusters.assign(docs, "doc_id", edges, useStar = true)
        .orderBy(col("doc_id"))
    },
    q145DupClusters.oracle)

  // ---------------------------------------------------------------- q148
  /** The end-to-end corpus-curation pipeline, five verified operators
    * composed in ONE plan: token stats → quality gate (n_tokens ≥ 20) →
    * SimHash near-dup pairs over the survivors → cluster dedup
    * (Clusters.keepCanonical) → leakage-safe split (DataSplit on
    * source) → per-(split, lang) corpus manifest. Every stage is
    * individually oracled elsewhere (q42/q43, q47, q145, q146); this
    * pins their COMPOSITION — filter-then-dedup ordering, keeper
    * selection among the filtered survivors, split-after-dedup — which
    * is exactly what a real training-data run executes. Per-doc
    * fingerprints are corpus-independent, so pairs over the filtered
    * docs equal all-pairs restricted to filtered endpoints, and the
    * oracle exploits that to reuse the q47 fingerprint CTE. */
  val q148CurationPipeline = Q(
    "q148_curation_pipeline",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val stats = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        col("source"), col("text"),
        size(filter(split(col("text"), " "), t => t =!= ""))
          .cast("long").as("n_tokens"))
      val good = stats.filter(col("n_tokens") >= 20)
      // connectivity-sufficient edges — keepCanonical only consumes
      // components, so the star+representative form is exact here too
      val edges = SimHash.componentEdges(
        good, "doc_id", "text", maxHamming = 4,
        tokenHash = graft.functions.GraftFunctions.polyHash62,
        totalBits = 62, hashDistinct = true)
      val kept = Clusters.keepCanonical(good, "doc_id", edges)
      graft.operators.DataSplit.assign(
          kept.select(col("doc_id"), col("lang"), col("source"),
            col("n_tokens")),
          "source", salt = "graft-r5", trainFrac = 0.8, valFrac = 0.1)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens_total"))
        .orderBy(col("split"), col("lang"))
    },
    Some(s"""WITH RECURSIVE $PolyFingerprintSql,
      tok AS (SELECT doc_id, lang, source,
          cast(len(list_filter(string_split(text, ' '), x -> x <> ''))
            AS bigint) AS n_tokens
        FROM documents),
      good AS (SELECT * FROM tok WHERE n_tokens >= 20),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        JOIN good ga ON a.doc_id = ga.doc_id
        JOIN good gb ON b.doc_id = gb.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 4),
      edges AS (
        SELECT id_a AS s, id_b AS t FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(s, t) AS (
        SELECT s, t FROM edges
        UNION
        SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
      comp AS (
        SELECT g.doc_id,
          least(g.doc_id, coalesce(min(r.t), g.doc_id)) AS component
        FROM good g LEFT JOIN reach r ON g.doc_id = r.s
        GROUP BY g.doc_id),
      kept AS (SELECT doc_id FROM comp WHERE doc_id = component)
      SELECT CASE WHEN h < 'cd' THEN 'train'
                  WHEN h < 'e6' THEN 'val'
                  ELSE 'test' END AS split,
        lang, count(*) AS n_docs,
        cast(sum(n_tokens) AS bigint) AS n_tokens_total
      FROM (SELECT g.lang, g.n_tokens,
          substr(md5(g.source || ':' || 'graft-r5'), 1, 2) AS h
        FROM kept k JOIN good g ON k.doc_id = g.doc_id) t
      GROUP BY split, lang ORDER BY split, lang"""))

  // ---------------------------------------------------------------- q237
  /** Deterministic negative sampling
    * ([[graft.operators.NegativeSampling]]): 5 never-purchased parts
    * per customer from 12 counter-based draws — O(users × m) generated
    * rows + one (user, item) anti-join, never the users × items cross
    * product. The 31-bit two-round mixer replays exactly in DuckDB
    * (no overflow wrap anywhere), so the driver hash-matches the full
    * sampled training frame — the reproducible-negatives requirement
    * of implicit-feedback training (companion to q80's ALS fit).
    * The operator draws from the DENSE domain [0, nParts); p_partkey is
    * 1-based, so positives enter as `l_partkey − 1` and sampled items
    * leave as `item + 1` — the natural↔dense mapping the
    * NegativeSampling scaladoc prescribes (partkeys are already dense,
    * so the map is the ±1 shift; without it item 0 was a phantom part
    * and partkey nParts could never be drawn). */
  val q237NegativeSampling = Q(
    "q237_negative_sampling",
    (s, d) => {
      val users = Tables.customer(s, d).select(col("c_custkey"))
      val positives = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), (col("l_partkey") - 1).as("l_part0"))
        .distinct()
      val nParts = Tables.part(s, d).count()
      graft.operators.NegativeSampling
        .negatives(users, col("c_custkey"),
          positives, col("o_custkey"), col("l_part0"),
          itemCount = nParts, k = 5, m = 12)
        .select(col("user").as("user_id"),
          (col("item") + 1L).as("neg_part"),
          col("draw").cast("long").as("draw"),
          col("rnk").cast("long").as("rnk"))
        .orderBy(col("user_id"), col("rnk"))
    },
    Some("""WITH users AS (SELECT c_custkey AS u FROM customer),
      np AS (SELECT count(*) AS n FROM part),
      cand0 AS (
        SELECT u, draw,
          ((u % 2147483648) * 2654435761 + draw * 97 + 20240801)
            % 2147483648 AS h0
        FROM users CROSS JOIN
          (SELECT unnest(generate_series(1, 12)) AS draw) g),
      cand1 AS (
        SELECT u, draw,
          (xor(h0, h0 >> 15) * 2246822519) % 2147483648 AS h1
        FROM cand0),
      cand AS (
        SELECT u, draw, xor(h1, h1 >> 13) % np.n AS item
        FROM cand1, np),
      pos AS (SELECT DISTINCT o_custkey AS u, l_partkey - 1 AS item
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      surv AS (
        SELECT c.u, c.item, min(c.draw) AS draw
        FROM cand c LEFT JOIN pos p ON c.u = p.u AND c.item = p.item
        WHERE p.u IS NULL
        GROUP BY c.u, c.item),
      r AS (SELECT u, item, draw, row_number() OVER (
          PARTITION BY u ORDER BY draw) AS rnk FROM surv)
      SELECT u AS user_id, item + 1 AS neg_part,
        cast(draw AS bigint) AS draw, cast(rnk AS bigint) AS rnk
      FROM r WHERE rnk <= 5 ORDER BY user_id, rnk"""))

  // ---------------------------------------------------------------- q238
  /** Next-item training examples ([[graft.operators.TrainingWindows]]):
    * each user's event stream, ordered by (ts, event_id), windowed
    * into (ctx1..ctx3, label) supervised rows — all three context
    * lags share ONE WindowSpec, so the plan is a single exchange on
    * the user key + one partition-local sort. Strict order via the
    * event-id tiebreak makes the frame replay-deterministic, and the
    * scalar context columns hash-match DuckDB's lag windows. */
  val q238TrainingWindows = Q(
    "q238_training_windows",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
      graft.operators.TrainingWindows
        .nextItemExamples(ev, col("user_id"),
          Seq(col("ts"), col("event_id")), col("event_type"),
          contextLen = 3)
        .select(col("user_id"), col("event_id"), col("ctx1"),
          col("ctx2"), col("ctx3"), col("label"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""WITH w AS (
        SELECT user_id, event_id,
          lag(event_type, 3) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS ctx1,
          lag(event_type, 2) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS ctx2,
          lag(event_type, 1) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS ctx3,
          event_type AS label
        FROM events)
      SELECT user_id, event_id, ctx1, ctx2, ctx3, label FROM w
      WHERE ctx1 IS NOT NULL AND ctx2 IS NOT NULL AND ctx3 IS NOT NULL
      ORDER BY user_id, event_id"""))

  // ---------------------------------------------------------------- q241
  /** Skip-gram pair extraction ([[graft.operators.SkipGrams]]):
    * word2vec-style (center, context) counts within a ±2 window of
    * each user's ordered event stream. The 4 context columns ride ONE
    * WindowSpec (single exchange + single sort), then posexplode +
    * one map-side-combinable count — never the quadratic per-entity
    * self-join. Oracle unrolls the same lags/leads as a UNION ALL. */
  val q241SkipgramPairs = Q(
    "q241_skipgram_pairs",
    (s, d) => {
      val ev = Tables.events(s, d)
      graft.operators.SkipGrams
        .pairs(ev, col("user_id"), Seq(col("ts"), col("event_id")),
          col("event_type"), window = 2)
        .orderBy(col("center"), col("context"))
    },
    Some("""WITH w AS (
        SELECT event_type AS center,
          lag(event_type, 1) OVER ord AS c1,
          lag(event_type, 2) OVER ord AS c2,
          lead(event_type, 1) OVER ord AS c3,
          lead(event_type, 2) OVER ord AS c4
        FROM events
        WINDOW ord AS (PARTITION BY user_id ORDER BY ts, event_id)),
      p AS (
        SELECT center, c1 AS context FROM w UNION ALL
        SELECT center, c2 FROM w UNION ALL
        SELECT center, c3 FROM w UNION ALL
        SELECT center, c4 FROM w)
      SELECT center, context, count(*) AS pair_count FROM p
      WHERE context IS NOT NULL
      GROUP BY center, context ORDER BY center, context"""))

  // ---------------------------------------------------------------- q242
  /** word2vec frequency subsampling
    * ([[graft.operators.FrequencySubsample]]): occurrences of frequent
    * event types survive with P = sqrt(tN/c) + tN/c, decided by the
    * md5-hex-string threshold compare — no hex→int conversion, the
    * fixed-width lowercase hex compares lexicographically exactly as
    * the numbers do, so every per-row decision replays in DuckDB. The
    * full surviving frame (not a summary) is hash-compared. */
  val q242FrequencySubsample = Q(
    "q242_frequency_subsample",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"))
      graft.operators.FrequencySubsample
        .subsample(ev, col("event_type"), col("event_id"), t = 1e-4)
        .select(col("event_id"), col("event_type"), col("item_count"),
          col("keep_thr"))
        .orderBy(col("event_id"))
    },
    Some("""WITH c AS (
        SELECT event_type AS item, count(*) AS item_count
        FROM events GROUP BY 1),
      n AS (SELECT cast(count(*) AS double) AS nn FROM events),
      d AS (SELECT item, item_count,
          least(cast(floor(
            (sqrt((1e-4 * nn) / item_count) + (1e-4 * nn) / item_count)
              * 4294967296) AS bigint), 4294967296) AS keep_thr
        FROM c, n)
      SELECT e.event_id, e.event_type, d.item_count, d.keep_thr
      FROM events e JOIN d ON e.event_type = d.item
      WHERE d.keep_thr = 4294967296
        OR substr(md5(cast(e.event_id AS varchar) || ':ss'), 1, 8)
           < lpad(printf('%x', d.keep_thr), 8, '0')
      ORDER BY e.event_id"""))

  // ---------------------------------------------------------------- q279
  /** Production frequency-subsampling family
    * ([[graft.operators.FrequencySubsample.subsampleFast]]): the same
    * `keep_thr` algebra as q242 but the per-occurrence uniform is the
    * unsigned top 32 bits of one codegen'd `xxhash64` — no md5 digest
    * rendered to hex, no per-row threshold string build. Not
    * DuckDB-replayable, so the gate is the envelope: per-item counts and
    * thresholds EXACT (independent recount joined against the
    * operator-attached dimension — a vanished item surfaces as a NULL
    * keep_thr, not a silent pass), floor items (`keep_thr` = 2³²) kept
    * exactly, subsampled items inside a 5σ binomial band (+1 slack for
    * the integer edge). Deterministic for fixed data and salt; the
    * draw-level replay against the clean-room [[graft.TestXxHash64]]
    * lives in FrequencySubsampleSpec. */
  val q279FrequencySubsampleFast = Q(
    "q279_frequency_subsample_fast",
    (s, d) => {
      val two32 = 4294967296L
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"))
      val kept = graft.operators.FrequencySubsample
        .subsampleFast(ev, col("event_type"), col("event_id"), t = 1e-4)
      val keptCnt = kept.groupBy(col("event_type"))
        .agg(count(lit(1)).as("kept"), first(col("keep_thr")).as("thr"))
      val items = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("item_count"))
      val p = col("thr").cast("double") / lit(two32.toDouble)
      val mean = col("item_count").cast("double") * p
      val sd = sqrt(mean * (lit(1.0) - p))
      items.join(keptCnt, Seq("event_type"), "left")
        .select(col("event_type"), col("item_count"),
          col("thr").as("keep_thr"),
          when(col("thr") === two32,
            coalesce(col("kept"), lit(0L)) === col("item_count"))
            .otherwise(abs(coalesce(col("kept"), lit(0L)).cast("double")
              - mean) <= lit(5.0) * sd + lit(1.0))
            .as("kept_ok"))
        .orderBy(col("event_type"))
    },
    Some("""WITH c AS (
        SELECT event_type, count(*) AS item_count FROM events GROUP BY 1),
      n AS (SELECT cast(count(*) AS double) AS nn FROM events)
      SELECT event_type, item_count,
        least(cast(floor(
          (sqrt((1e-4 * nn) / item_count) + (1e-4 * nn) / item_count)
            * 4294967296) AS bigint), 4294967296) AS keep_thr,
        true AS kept_ok
      FROM c, n ORDER BY event_type"""))

  val all: Seq[Q] = Seq(
    q46MinhashNeardup, q47SimhashNeardup, q48Fingerprints,
    q60MediaFeatures, q80AlsRecommend, q81UserCosine, q125DimsumExact,
    q128FrameSample, q132SimhashCapped, q139IncrementalNeardup,
    q145DupClusters, q148CurationPipeline, q182ClustersStar,
    q237NegativeSampling, q238TrainingWindows, q241SkipgramPairs,
    q242FrequencySubsample, q276AlsValidation, q277MediaDecode,
    q279FrequencySubsampleFast, q280DimsumThreshold)
}
