package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables

/** Corpus-composition operators over `documents`: segment-level exact
  * dedup with reassembly, vocabulary/OOV scoring, deterministic mixture
  * realization, and the cross-source overlap audit. These are the steps
  * between per-document hygiene (TextOps) and the final training
  * manifest: what survives, from which source, under which budget.
  */
object CorpusQueries {

  // ---------------------------------------------------------------- q149
  /** Segment-level exact dedup ([[graft.dedup.SegmentDedup]]): every
    * verbatim 8-token span keeps only its first corpus-order occurrence,
    * and documents are reassembled from the survivors — the pass that
    * strips repeated boilerplate out of otherwise-distinct documents.
    * The oracle replays segmentation, global keep-first ranking, AND the
    * reassembled strings, so the hash verdict pins the cleaned corpus
    * byte-for-byte, not just the drop counts. */
  val q149SegmentDedup = Q(
    "q149_segment_dedup",
    (s, d) => graft.dedup.SegmentDedup.dedup(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", segTokens = 8)
      .orderBy(col("doc_id")),
    Some("""WITH n AS (SELECT doc_id,
        list_filter(string_split(text, ' '), t -> t <> '') AS toks,
        len(list_filter(string_split(text, ' '), t -> t <> '')) AS n
      FROM documents),
      segs AS (
        SELECT doc_id, i AS pos,
          array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' ') AS seg
        FROM n, unnest(generate_series(0, (greatest(n, 1) - 1) // 8))
          AS t(i)
        WHERE array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' ') <> ''),
      k AS (SELECT doc_id, pos, seg, row_number() OVER (
          PARTITION BY md5(seg) ORDER BY doc_id, pos) AS rn
        FROM segs),
      reb AS (SELECT doc_id, count(*) AS n_kept,
          string_agg(seg, ' ' ORDER BY pos) AS kept_text
        FROM k WHERE rn = 1 GROUP BY doc_id)
      SELECT n.doc_id, cast(ceil(n / 8.0) AS bigint) AS n_segs,
        coalesce(n_kept, 0) AS n_kept,
        coalesce(cast(len(list_filter(string_split(kept_text, ' '),
          t -> t <> '')) AS bigint), 0) AS kept_tokens,
        coalesce(kept_text, '') AS kept_text
      FROM n LEFT JOIN reb USING (doc_id) ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q150
  /** Vocabulary induction + OOV scoring ([[graft.operators.Vocabulary]]):
    * the top-25 corpus words become the vocabulary (count desc, word asc
    * — fully deterministic), and every document is scored by its
    * out-of-vocabulary token rate against the BROADCAST vocab. A wrong
    * vocabulary (wrong counts, wrong tie-break, wrong cut) shifts some
    * document's n_oov, so the oracle pins the whole chain. */
  val q150VocabOov = Q(
    "q150_vocab_oov",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val vocab = graft.operators.Vocabulary.build(docs, "text", n = 25)
      graft.operators.Vocabulary.oovStats(docs, "doc_id", "text", vocab)
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (SELECT doc_id,
        unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS word
      FROM documents),
      v AS (SELECT word FROM (
        SELECT word, count(*) AS c FROM w GROUP BY word
        ORDER BY c DESC, word LIMIT 25) t)
      SELECT doc_id, count(*) AS n_tokens,
        cast(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS bigint)
          AS n_oov,
        cast(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS bigint)
          / count(*) AS oov_rate
      FROM w LEFT JOIN v ON w.word = v.word
      GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q151
  /** Deterministic mixture realization ([[graft.operators.SourceMix]]):
    * each source gets a token budget (300·(i mod 4 + 1) for src_i — four
    * budget tiers), documents fill it greedily in md5 order, and the
    * ACCEPTED manifest is the result. The oracle replays the hash
    * ranking, the running token sum, and the acceptance boundary, so the
    * verdict pins exactly which documents make the mixture. */
  val q151SourceMix = Q(
    "q151_source_mix",
    (s, d) => graft.operators.SourceMix.fillToBudget(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("text")),
        "source", "doc_id",
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long"),
        budgets = (0 until 20).map(i =>
          s"src$i" -> (300L * (i % 4 + 1))).toMap,
        salt = "mix-r5")
      .select(col("source"), col("mix_rank"), col("doc_id"),
        col("cum_start"))
      .orderBy(col("source"), col("mix_rank")),
    Some("""WITH t AS (SELECT source, doc_id,
        cast(len(list_filter(string_split(text, ' '), x -> x <> ''))
          AS bigint) AS tok,
        md5(cast(doc_id AS varchar) || ':' || 'mix-r5') AS h
      FROM documents),
      b AS (SELECT 'src' || i AS source,
          cast(300 * (i % 4 + 1) AS bigint) AS budget
        FROM unnest(generate_series(0, 19)) AS u(i)),
      r AS (SELECT t.source, doc_id, tok, budget,
          row_number() OVER (PARTITION BY t.source ORDER BY h, doc_id)
            AS mix_rank,
          cast(coalesce(sum(tok) OVER (PARTITION BY t.source
            ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS bigint) AS cum_start
        FROM t JOIN b USING (source))
      SELECT source, mix_rank, doc_id, cum_start FROM r
      WHERE cum_start < budget ORDER BY source, mix_rank"""))

  // ---------------------------------------------------------------- q152
  /** Cross-source overlap audit ([[graft.operators.SourceOverlap]]):
    * distinct shared 3-gram count and containment for every source pair.
    * The engine emits pairs from each shingle's sorted source SET
    * (bounded by the source count), never a shingle self-join; the
    * oracle IS the naive self-join, so agreement proves the set-based
    * plan computes exactly the quadratic semantics it avoids paying. */
  val q152SourceOverlap = Q(
    "q152_source_overlap",
    (s, d) => graft.operators.SourceOverlap.matrix(
        Tables.documents(s, d), "source", "text", n = 3)
      .orderBy(col("src_a"), col("src_b")),
    Some("""WITH toks AS (SELECT source,
        list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents),
      sh AS (SELECT DISTINCT source,
          array_to_string(toks[i:i+2], ' ') AS shingle
        FROM toks, unnest(generate_series(1, len(toks) - 2)) AS u(i)
        WHERE len(toks) >= 3),
      sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
      ov AS (SELECT a.source AS src_a, b.source AS src_b,
          count(*) AS n_shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle
          AND a.source < b.source
        GROUP BY 1, 2)
      SELECT src_a, src_b, n_shared, sa.n AS n_a, sb.n AS n_b,
        n_shared / least(sa.n, sb.n) AS containment
      FROM ov JOIN sz sa ON src_a = sa.source
        JOIN sz sb ON src_b = sb.source
      ORDER BY src_a, src_b"""))

  // ---------------------------------------------------------------- q156
  /** One-pass dataset profile ([[graft.operators.Profile]]): every
    * column of `events` audited in a single aggregation scan — row/null/
    * distinct counts, numeric min/max as doubles, string min/max as
    * strings. Min/max are actual element values (no accumulation), so
    * the whole report is hash-exact; the oracle states each column's
    * stats independently and the union must match row-for-row. */
  /** Per-column stat branches of the events profile oracle, shared by
    * q156 (exact) and q181 (approx envelope); `extra` appends columns
    * to every branch. */
  private def profileEventsOracle(extra: String = ""): String =
    Seq(
      ("event_id", "min(event_id)::DOUBLE", "max(event_id)::DOUBLE",
        "NULL::VARCHAR", "NULL::VARCHAR"),
      ("event_type", "NULL::DOUBLE", "NULL::DOUBLE",
        "min(event_type)", "max(event_type)"),
      ("props", "NULL::DOUBLE", "NULL::DOUBLE",
        "min(props)", "max(props)"),
      ("ts", "NULL::DOUBLE", "NULL::DOUBLE",
        "NULL::VARCHAR", "NULL::VARCHAR"),
      ("user_id", "min(user_id)::DOUBLE", "max(user_id)::DOUBLE",
        "NULL::VARCHAR", "NULL::VARCHAR"),
      ("value", "min(value)::DOUBLE", "max(value)::DOUBLE",
        "NULL::VARCHAR", "NULL::VARCHAR"))
      .map { case (c, mn, mx, ms, xs) =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
          count(*) - count($c) AS n_nulls,
          count(DISTINCT $c) AS n_distinct,
          $mn AS min_num, $mx AS max_num,
          $ms AS min_str, $xs AS max_str$extra FROM events"""
      }
      .mkString("", " UNION ALL ", " ORDER BY col_name")

  val q156ProfileEvents = Q(
    "q156_profile_events",
    (s, d) => graft.operators.Profile.profile(Tables.events(s, d)),
    Some(profileEventsOracle()))

  // ---------------------------------------------------------------- q181
  /** The profiler's 100 TB default, driver-gated: `exact = false` swaps
    * the multi-distinct Expand plan for a single Expand-free pass whose
    * distinct counts are HLL sketches ([[graft.operators.Profile]]
    * scaladoc). The estimate is engine-specific, so — the q134
    * error-envelope recipe — the oracled frame carries the EXACT stats
    * (hash-checked) plus a boolean asserting each approx distinct lands
    * within max(3·rsd·exact, 2) of truth, which the oracle states as
    * TRUE. A green row certifies both the envelope and that the approx
    * path produces the same non-distinct stats as the exact one. */
  val q181ProfileApprox = Q(
    "q181_profile_approx",
    (s, d) => {
      val ev = Tables.events(s, d)
      val rsd = 0.05 // approx_count_distinct's default relative std-dev
      val approx = graft.operators.Profile.profile(ev, exact = false)
        .select(col("col_name"), col("n_distinct").as("nd_approx"))
      graft.operators.Profile.profile(ev)
        .join(approx, Seq("col_name"))
        .withColumn("approx_within_rsd",
          abs(col("nd_approx") - col("n_distinct")) <=
            greatest(col("n_distinct") * (3 * rsd), lit(2.0)))
        .drop("nd_approx")
        .orderBy(col("col_name"))
    },
    Some(profileEventsOracle(extra = ", TRUE AS approx_within_rsd")))

  // ---------------------------------------------------------------- q184
  /** Key-skew diagnostic ([[graft.operators.SkewReport.topKeys]]): the
    * 20 heaviest `user_id`s of the events stream with exact counts,
    * share of all rows, and ratio to the mean key load — the
    * measurement that decides salting buckets (q119/q154) before a job
    * discovers its hot key the hard way. Counts exact, both ratios
    * single IEEE divisions of exact integers, rank ties by key — the
    * whole report hash-exact. */
  val q184SkewReport = Q(
    "q184_skew_report",
    (s, d) => graft.operators.SkewReport
      .topKeys(Tables.events(s, d), "user_id", topN = 20)
      .orderBy(col("key_rank")),
    Some("""WITH c AS (SELECT cast(user_id AS varchar) AS key,
        count(*) AS cnt FROM events GROUP BY 1),
      a AS (SELECT cast(sum(cnt) AS bigint) AS total,
        count(*) AS n_keys FROM c),
      r AS (SELECT key, cnt,
          cnt / (SELECT total FROM a) AS share,
          (cnt * (SELECT n_keys FROM a)) / (SELECT total FROM a)
            AS vs_mean,
          row_number() OVER (ORDER BY cnt DESC, key ASC NULLS FIRST)
            AS key_rank
        FROM c)
      SELECT key, cnt, share, vs_mean, key_rank
      FROM r WHERE key_rank <= 20 ORDER BY key_rank"""))

  // ---------------------------------------------------------------- q185
  /** Corpus version diff ([[graft.operators.CorpusDiff]]): documents vs
    * a deterministically-mutated "next release" — every 7th doc
    * removed, every remaining 11th doc's text edited, every 13th doc
    * re-added under a shifted id — and the per-row
    * added/removed/changed/unchanged verdicts plus the summary counts.
    * Both derive from the same table, so the oracle replays the
    * mutation and the full-outer CASE exactly; content compare is the
    * exact (non-fingerprint) path, `<=>` null-safe. */
  val q185CorpusDiff = Q(
    "q185_corpus_diff",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val span = 100000L
      val next = docs
        .filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + span).as("doc_id"), col("text")))
      graft.operators.CorpusDiff.diff(docs, next, "doc_id", col("text"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH o AS (SELECT doc_id, text FROM documents),
      n AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
          AND doc_id % 11 <> 0
        UNION ALL
        SELECT doc_id, text || ' v2' FROM documents
          WHERE doc_id % 7 <> 0 AND doc_id % 11 = 0
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id % 13 = 0)
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        CASE WHEN o.doc_id IS NULL THEN 'added'
             WHEN n.doc_id IS NULL THEN 'removed'
             WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
             ELSE 'changed' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q159
  /** Temperature-scaled mixture realization
    * ([[graft.operators.SourceMix.temperatureBudgets]] + fillToBudget):
    * a third of the corpus's tokens are allocated across sources
    * proportionally to √(source tokens) — the α=0.5 up-weighting of
    * small sources — with the allocation computed in INTEGER arithmetic
    * (floor(sqrt) weights, integer-division splits), so unlike a
    * float-softmax the budgets are bit-reproducible and the oracle
    * replays weights, splits, hash ranking, and the acceptance boundary
    * end-to-end. */
  val q159TemperatureMix = Q(
    "q159_temperature_mix",
    (s, d) => {
      import graft.operators.SourceMix
      val tok = size(filter(split(col("text"), " "), t => t =!= ""))
        .cast("long")
      val withTok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), tok.as("tok"))
      val totalTok = withTok.agg(sum(col("tok")))
        .collect()(0).getLong(0) // scalar anchor: one number to the driver
      val budgets = SourceMix.temperatureBudgets(
        withTok, "source", col("tok"), totalTok / 3)
      val bmap = budgets.select(col("source"), col("budget"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      SourceMix.fillToBudget(
          withTok, "source", "doc_id", col("tok"), bmap, salt = "temp-r5")
        .select(col("source"), col("mix_rank"), col("doc_id"),
          col("cum_start"))
        .orderBy(col("source"), col("mix_rank"))
    },
    Some("""WITH t AS (SELECT source, doc_id,
        cast(len(list_filter(string_split(text, ' '), x -> x <> ''))
          AS bigint) AS tok,
        md5(cast(doc_id AS varchar) || ':' || 'temp-r5') AS h
      FROM documents),
      c AS (SELECT source, sum(tok) AS n_tokens,
          cast(floor(sqrt(cast(sum(tok) AS double))) AS bigint) AS w
        FROM t GROUP BY source),
      b AS (SELECT source,
          ((SELECT sum(tok) FROM t) // 3) * w // (SELECT sum(w) FROM c)
            AS budget
        FROM c),
      r AS (SELECT t.source, doc_id, tok, budget,
          row_number() OVER (PARTITION BY t.source ORDER BY h, doc_id)
            AS mix_rank,
          cast(coalesce(sum(tok) OVER (PARTITION BY t.source
            ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS bigint) AS cum_start
        FROM t JOIN b USING (source))
      SELECT source, mix_rank, doc_id, cum_start FROM r
      WHERE cum_start < budget ORDER BY source, mix_rank"""))

  // ---------------------------------------------------------------- q213
  /** Statistical phrase induction ([[graft.operators.PhraseMerge]]):
    * adjacent token pairs whose co-occurrence beats independence under
    * the cross-multiplied INTEGER inequality
    * `(n_ab − δ)·20000 ≥ n_a·n_b` — the word2phrase qualifying rule
    * with no division anywhere, so the phrase set is bit-reproducible. */
  val q213Phrases = Q(
    "q213_phrases",
    (s, d) => graft.operators.PhraseMerge.phrases(
      Tables.documents(s, d), "doc_id", "text",
      discount = 5L, scoreNum = 1L, scoreDen = 20000L)
      .orderBy(col("w1"), col("w2")),
    Some("""WITH t AS (SELECT doc_id,
        unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
        generate_subscripts(
          list_filter(string_split(text, ' '), x -> x <> ''), 1) AS pos
      FROM documents),
      adj AS (SELECT a.w AS w1, b.w AS w2 FROM t a JOIN t b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      p AS (SELECT w1, w2, count(*) AS n_ab FROM adj GROUP BY 1, 2),
      u AS (SELECT w, count(*) AS n_w FROM t GROUP BY 1)
      SELECT w1, w2, n_ab, ua.n_w AS n_a, ub.n_w AS n_b
      FROM p JOIN u ua ON p.w1 = ua.w JOIN u ub ON p.w2 = ub.w
      WHERE (n_ab - 5) * 20000 >= ua.n_w * ub.n_w
      ORDER BY w1, w2"""))

  // ---------------------------------------------------------------- q214
  /** One corpus-wide merge pass: every qualifying phrase occurrence
    * joins into `w1_w2` leftmost-non-overlapping (run-parity rewrite —
    * the scan a sequential tokenizer performs, computed distributed by
    * the pos − row_number run-grouping trick). Per-doc before/after
    * token counts, merge count, and the rewritten text — the BPE-style
    * merge step as one driver-exact plan. */
  val q214PhraseMerge = Q(
    "q214_phrase_merge",
    (s, d) => graft.operators.PhraseMerge.mergeOnce(
      Tables.documents(s, d), "doc_id", "text",
      discount = 5L, scoreNum = 1L, scoreDen = 20000L)
      .orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id,
        unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
        generate_subscripts(
          list_filter(string_split(text, ' '), x -> x <> ''), 1) AS pos
      FROM documents),
      adj AS (SELECT a.w AS w1, b.w AS w2 FROM t a JOIN t b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      pc AS (SELECT w1, w2, count(*) AS n_ab FROM adj GROUP BY 1, 2),
      u AS (SELECT w, count(*) AS n_w FROM t GROUP BY 1),
      ph AS (SELECT w1, w2 FROM pc
        JOIN u ua ON pc.w1 = ua.w JOIN u ub ON pc.w2 = ub.w
        WHERE (n_ab - 5) * 20000 >= ua.n_w * ub.n_w),
      cand AS (SELECT doc_id, pos, w,
          lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM t),
      mm AS (SELECT c.*, (ph.w1 IS NOT NULL) AS m FROM cand c
        LEFT JOIN ph ON c.w = ph.w1 AND c.nxt = ph.w2),
      rr AS (SELECT *, CASE WHEN m THEN pos - row_number() OVER (
          PARTITION BY doc_id, m ORDER BY pos) END AS run FROM mm),
      oo AS (SELECT *, CASE WHEN m THEN row_number() OVER (
          PARTITION BY doc_id, run ORDER BY pos) END AS ord FROM rr),
      mk AS (SELECT *, (m AND ord % 2 = 1) AS merge_here FROM oo),
      ck AS (SELECT *, coalesce(lag(merge_here) OVER (
          PARTITION BY doc_id ORDER BY pos), false) AS consumed FROM mk),
      rb AS (SELECT doc_id, count(*) AS n_after,
          cast(sum(CASE WHEN merge_here THEN 1 ELSE 0 END) AS bigint)
            AS n_merges,
          string_agg(CASE WHEN merge_here THEN w || '_' || nxt ELSE w
            END, ' ' ORDER BY pos) AS new_text
        FROM ck WHERE NOT consumed GROUP BY doc_id)
      SELECT d.doc_id,
        cast(len(list_filter(string_split(d.text, ' '), x -> x <> ''))
          AS bigint) AS n_before,
        coalesce(n_merges, 0) AS n_merges,
        coalesce(n_after, 0) AS n_after,
        coalesce(new_text, '') AS new_text
      FROM documents d LEFT JOIN rb USING (doc_id)
      ORDER BY d.doc_id"""))

  // ---------------------------------------------------------------- q282
  /** ITERATED tokenizer training ([[graft.operators.PhraseMerge
    * .iterate]]): two qualification+merge rounds, each recounting
    * pairs and unigrams on the previous round's REWRITTEN corpus — so
    * units merged in round 1 ("a_b") qualify inside longer phrases in
    * round 2, the loop a BPE/word2phrase trainer runs until its
    * vocabulary budget. The oracle unrolls BOTH rounds (q214's replay
    * chain twice, round 2 over round 1's rebuilt text), so the hash
    * verdict pins the full training trajectory byte-for-byte: per-doc
    * original token count, total merges across rounds, and the final
    * corpus. */
  val q282PhraseIterate = Q(
    "q282_phrase_iterate",
    (s, d) => {
      val (merged, _) = graft.operators.PhraseMerge.iterate(
        Tables.documents(s, d), "doc_id", "text",
        discount = 5L, scoreNum = 1L, scoreDen = 20000L, maxRounds = 2)
      merged.orderBy(col("doc_id"))
    },
    Some("""WITH t1 AS (SELECT doc_id,
        unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
        generate_subscripts(
          list_filter(string_split(text, ' '), x -> x <> ''), 1) AS pos
      FROM documents),
      adj1 AS (SELECT a.w AS w1, b.w AS w2 FROM t1 a JOIN t1 b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      pc1 AS (SELECT w1, w2, count(*) AS n_ab FROM adj1 GROUP BY 1, 2),
      u1 AS (SELECT w, count(*) AS n_w FROM t1 GROUP BY 1),
      ph1 AS (SELECT w1, w2 FROM pc1
        JOIN u1 ua ON pc1.w1 = ua.w JOIN u1 ub ON pc1.w2 = ub.w
        WHERE (n_ab - 5) * 20000 >= ua.n_w * ub.n_w),
      cand1 AS (SELECT doc_id, pos, w,
          lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM t1),
      mm1 AS (SELECT c.*, (ph1.w1 IS NOT NULL) AS m FROM cand1 c
        LEFT JOIN ph1 ON c.w = ph1.w1 AND c.nxt = ph1.w2),
      rr1 AS (SELECT *, CASE WHEN m THEN pos - row_number() OVER (
          PARTITION BY doc_id, m ORDER BY pos) END AS run FROM mm1),
      oo1 AS (SELECT *, CASE WHEN m THEN row_number() OVER (
          PARTITION BY doc_id, run ORDER BY pos) END AS ord FROM rr1),
      mk1 AS (SELECT *, (m AND ord % 2 = 1) AS merge_here FROM oo1),
      ck1 AS (SELECT *, coalesce(lag(merge_here) OVER (
          PARTITION BY doc_id ORDER BY pos), false) AS consumed FROM mk1),
      rb1 AS (SELECT doc_id,
          cast(sum(CASE WHEN merge_here THEN 1 ELSE 0 END) AS bigint)
            AS n_merges,
          string_agg(CASE WHEN merge_here THEN w || '_' || nxt ELSE w
            END, ' ' ORDER BY pos) AS new_text
        FROM ck1 WHERE NOT consumed GROUP BY doc_id),
      docs2 AS (SELECT d.doc_id, coalesce(rb1.new_text, '') AS text
        FROM documents d LEFT JOIN rb1 USING (doc_id)),
      t2 AS (SELECT doc_id,
        unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
        generate_subscripts(
          list_filter(string_split(text, ' '), x -> x <> ''), 1) AS pos
      FROM docs2),
      adj2 AS (SELECT a.w AS w1, b.w AS w2 FROM t2 a JOIN t2 b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      pc2 AS (SELECT w1, w2, count(*) AS n_ab FROM adj2 GROUP BY 1, 2),
      u2 AS (SELECT w, count(*) AS n_w FROM t2 GROUP BY 1),
      ph2 AS (SELECT w1, w2 FROM pc2
        JOIN u2 ua ON pc2.w1 = ua.w JOIN u2 ub ON pc2.w2 = ub.w
        WHERE (n_ab - 5) * 20000 >= ua.n_w * ub.n_w),
      cand2 AS (SELECT doc_id, pos, w,
          lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM t2),
      mm2 AS (SELECT c.*, (ph2.w1 IS NOT NULL) AS m FROM cand2 c
        LEFT JOIN ph2 ON c.w = ph2.w1 AND c.nxt = ph2.w2),
      rr2 AS (SELECT *, CASE WHEN m THEN pos - row_number() OVER (
          PARTITION BY doc_id, m ORDER BY pos) END AS run FROM mm2),
      oo2 AS (SELECT *, CASE WHEN m THEN row_number() OVER (
          PARTITION BY doc_id, run ORDER BY pos) END AS ord FROM rr2),
      mk2 AS (SELECT *, (m AND ord % 2 = 1) AS merge_here FROM oo2),
      ck2 AS (SELECT *, coalesce(lag(merge_here) OVER (
          PARTITION BY doc_id ORDER BY pos), false) AS consumed FROM mk2),
      rb2 AS (SELECT doc_id, count(*) AS n_after,
          cast(sum(CASE WHEN merge_here THEN 1 ELSE 0 END) AS bigint)
            AS n_merges,
          string_agg(CASE WHEN merge_here THEN w || '_' || nxt ELSE w
            END, ' ' ORDER BY pos) AS new_text
        FROM ck2 WHERE NOT consumed GROUP BY doc_id)
      SELECT d.doc_id,
        cast(len(list_filter(string_split(d.text, ' '), x -> x <> ''))
          AS bigint) AS n_before,
        cast(coalesce(rb1.n_merges, 0) + coalesce(rb2.n_merges, 0)
          AS bigint) AS n_merges,
        coalesce(rb2.n_after, 0) AS n_after,
        coalesce(rb2.new_text, '') AS new_text
      FROM documents d LEFT JOIN rb1 USING (doc_id)
        LEFT JOIN rb2 USING (doc_id)
      ORDER BY d.doc_id"""))

  // ---------------------------------------------------------------- q219
  /** Rolling-window repeated-passage masking
    * ([[graft.operators.RepeatedSpans]]): every token position starts an
    * 8-gram, duplicate occurrences (corpus-order keep-first) mask the
    * positions they cover, overlapping masks merge into maximal spans,
    * and documents reassemble from the unmasked remainder — the exact-
    * substring dedup pass that catches passages q149's NON-overlapping
    * segments miss when a repeat straddles a segment boundary. The
    * oracle replays gram ranking, position coverage, span merge, and the
    * rebuilt text, so the hash verdict pins the cleaned corpus
    * byte-for-byte. */
  val q219RepeatedSpans = Q(
    "q219_repeated_spans",
    (s, d) => graft.operators.RepeatedSpans.mask(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 8)
      .orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id,
        list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
      g AS (SELECT doc_id, i AS gpos,
          md5(array_to_string(toks[i:i+7], ' ')) AS gh
        FROM t, unnest(generate_series(1, greatest(len(toks) - 7, 0)))
          AS u(i)),
      dup AS (SELECT doc_id, gpos FROM (
          SELECT doc_id, gpos, row_number() OVER (
            PARTITION BY gh ORDER BY doc_id, gpos) AS occ FROM g) r
        WHERE occ > 1),
      cover AS (SELECT DISTINCT doc_id, p.pos
        FROM dup, unnest(generate_series(gpos, gpos + 7)) AS p(pos)),
      spans AS (SELECT doc_id, grp, min(pos) AS s, max(pos) AS e FROM (
          SELECT doc_id, pos, pos - row_number() OVER (
            PARTITION BY doc_id ORDER BY pos) AS grp FROM cover) x
        GROUP BY doc_id, grp),
      pm AS (SELECT doc_id, count(*) AS n_masked FROM cover
        GROUP BY doc_id),
      ps AS (SELECT doc_id, count(*) AS n_spans FROM spans
        GROUP BY doc_id),
      tokpos AS (SELECT doc_id, u.i AS pos, toks[u.i] AS tok
        FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
      kept AS (SELECT tp.doc_id,
          string_agg(tok, ' ' ORDER BY tp.pos) AS kept_text
        FROM tokpos tp LEFT JOIN cover c
          ON tp.doc_id = c.doc_id AND tp.pos = c.pos
        WHERE c.pos IS NULL GROUP BY tp.doc_id)
      SELECT t.doc_id, cast(len(toks) AS bigint) AS n_tokens,
        coalesce(n_masked, 0) AS n_masked,
        coalesce(n_spans, 0) AS n_spans,
        coalesce(kept_text, '') AS kept_text
      FROM t LEFT JOIN pm USING (doc_id) LEFT JOIN ps USING (doc_id)
        LEFT JOIN kept USING (doc_id)
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q262
  /** Concat-and-chunk sequence packing
    * ([[graft.operators.SequencePack]]): the corpus laid out in the
    * engine's md5 shuffle order and cut every 2048 chars into
    * training sequences, documents splitting across cuts — the
    * zero-waste GPT-style packing, emitted as an OFFSET PLAN (text
    * never moves). One PrefixSum range exchange + a map-only
    * sequence/explode; the oracle replays the same md5 order, running
    * total, and integer cut algebra. */
  val q262SequencePack = Q(
    "q262_sequence_pack",
    (s, d) => {
      graft.operators.SequencePack.pack(
        Tables.documents(s, d), col("doc_id"), col("n_chars"),
        seqLen = 2048L)
        .orderBy(col("seq_id"), col("seg_offset"))
    },
    Some("""WITH d AS (SELECT doc_id, n_chars AS len,
          md5(cast(doc_id AS varchar) || ':pack') AS ord
        FROM documents WHERE n_chars > 0),
      c AS (SELECT doc_id, len,
          cast(sum(len) OVER (ORDER BY ord, doc_id) AS bigint) AS cum
        FROM d),
      st AS (SELECT doc_id, len, cum, cum - len AS strt FROM c),
      g AS (SELECT doc_id, len, cum, strt,
          unnest(generate_series(strt // 2048, (cum - 1) // 2048))
            AS bin
        FROM st)
      SELECT doc_id, bin AS seq_id,
        greatest(strt, bin * 2048) - bin * 2048 AS seg_offset,
        greatest(0, bin * 2048 - strt) AS doc_offset,
        least(cum, (bin + 1) * 2048) - greatest(strt, bin * 2048)
          AS seg_len
      FROM g ORDER BY seq_id, seg_offset"""))

  // ---------------------------------------------------------------- q265
  /** Deterministic PPS systematic sampling
    * ([[graft.operators.PpsSample]]): a 1000-point weight-
    * proportional sample of orders by price — m selection midpoints
    * on the md5-ordered weight line, multiplicities summing to
    * exactly m, pure integer algebra off one running total (Poisson
    * samplers only hit m in expectation; this is the auditor's exact-
    * size draw). */
  val q265PpsSample = Q(
    "q265_pps_sample",
    (s, d) => {
      graft.operators.PpsSample.sample(
        Tables.orders(s, d), col("o_orderkey"),
        expr("cast(round(o_totalprice * 100) as bigint)"), m = 1000L)
        .orderBy(col("id"))
    },
    Some("""WITH d AS (SELECT o_orderkey AS id,
          cast(round(o_totalprice * 100) AS bigint) AS w,
          md5(cast(o_orderkey AS varchar) || ':pps') AS ord
        FROM orders WHERE cast(round(o_totalprice * 100) AS bigint) > 0),
      c AS (SELECT id, w,
          cast(sum(w) OVER (ORDER BY ord, id) AS bigint) AS cum
        FROM d),
      t AS (SELECT cast(max(cum) AS bigint) AS big_w FROM c),
      x AS (SELECT c.id, c.w, c.cum, t.big_w,
          2000 * cum - big_w AS num_hi,
          2000 * (cum - w) - big_w AS num_lo,
          2 * big_w AS den2
        FROM c, t),
      y AS (SELECT id, w, cum,
          greatest(0, least(1000, CASE WHEN num_hi <= 0 THEN 0
              ELSE (num_hi + den2 - 1) // den2 END))
            - greatest(0, least(1000, CASE WHEN num_lo <= 0 THEN 0
              ELSE (num_lo + den2 - 1) // den2 END)) AS multiplicity
        FROM x)
      SELECT id, w, cum, cast(multiplicity AS bigint) AS multiplicity
      FROM y WHERE multiplicity >= 1 ORDER BY id"""))

  // ---------------------------------------------------------------- q278
  /** Production PPS family ([[graft.operators.PpsSample.sampleFast]]):
    * the same integer selection algebra as q265 over an 8-byte
    * `xxhash64` order key instead of the md5 hex string — the q218/q268
    * two-family precedent (md5 = oracle replay, xxhash64 = production
    * constant). Not DuckDB-replayable, so the gate is the envelope:
    * multiplicities sum to EXACTLY m (the operator's defining
    * guarantee), every hit is a real positive-weight population item,
    * the draw is weight-biased (mean sampled weight above the
    * population mean), and the Horvitz–Thompson population-count
    * estimate `Σ mult·W/(m·w)` lands within a pinned band of the true
    * count (measured ratio 1.025 at sf0.01 / 0.942 at sf0.1, ProbePps
    * of commit ee39c87, 2026-08-15; band ±25%). Every boolean is
    * deterministic for fixed data and salt. */
  val q278PpsFast = Q(
    "q278_pps_fast",
    (s, d) => {
      val m = 1000L
      val wExpr = "cast(round(o_totalprice * 100) as bigint)"
      val pop = Tables.orders(s, d)
        .select(col("o_orderkey").as("id"), expr(wExpr).as("w_pop"))
        .filter(col("w_pop") > 0L)
      val hits = graft.operators.PpsSample.sampleFast(
        Tables.orders(s, d), col("o_orderkey"), expr(wExpr), m = m)
      val popStats = pop.agg(count(lit(1)).as("n_pop"),
        sum(col("w_pop")).as("big_w"),
        avg(col("w_pop")).as("avg_w"))
      hits.join(pop, Seq("id"), "left")
        .crossJoin(broadcast(popStats))
        .agg(
          (sum(col("multiplicity")) === m).as("sum_mult_ok"),
          bool_and(col("multiplicity") >= 1L).as("mult_pos_ok"),
          bool_and(col("w_pop").isNotNull &&
            col("w_pop") === col("w")).as("ids_ok"),
          (count(lit(1)) >= 1L && count(lit(1)) <= m).as("n_hits_ok"),
          (sum(col("multiplicity") * col("w")).cast("double") / m >=
            first(col("avg_w"))).as("pps_bias_ok"),
          (abs(sum(col("multiplicity").cast("double") *
              col("big_w").cast("double") /
              (lit(m.toDouble) * col("w"))) /
            first(col("n_pop")).cast("double") - 1.0) < 0.25)
            .as("ht_count_ok"))
        .select(lit(m).as("m"), col("sum_mult_ok"), col("mult_pos_ok"),
          col("ids_ok"), col("n_hits_ok"), col("pps_bias_ok"),
          col("ht_count_ok"))
    },
    Some("""SELECT cast(1000 AS bigint) AS m, true AS sum_mult_ok,
        true AS mult_pos_ok, true AS ids_ok, true AS n_hits_ok,
        true AS pps_bias_ok, true AS ht_count_ok
      FROM (SELECT count(*) FROM orders) t"""))

  val all: Seq[Q] = Seq(
    q149SegmentDedup, q150VocabOov, q151SourceMix, q152SourceOverlap,
    q156ProfileEvents, q159TemperatureMix, q181ProfileApprox,
    q184SkewReport, q185CorpusDiff, q213Phrases, q214PhraseMerge,
    q219RepeatedSpans, q262SequencePack, q265PpsSample, q278PpsFast,
    q282PhraseIterate)
}
