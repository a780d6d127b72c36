package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Training-data-pipeline text operators over `documents`: exact dedup,
  * n-gram Jaccard similarity, quality scoring, language-ID, token stats,
  * fingerprinting. MinHash/SimHash live in [[graft.dedup]] (they need
  * engine-specific hashing, so their queries are rows-only checked; the
  * exact-math operators here all have DuckDB oracles).
  *
  * Scale notes: everything keys by doc or by (blockKey, shingle) — no
  * all-pairs comparison is ever materialized without a blocking key, so the
  * pair space stays bounded at 100 TB (LSH banding or source-blocking first,
  * exact verification after).
  */
object TextOps {

  // ---------------------------------------------------------------- q41
  /** Exact dedup via content hash (md5) with keep-first semantics:
    * representative = min doc_id per hash. The groupBy shuffles on the
    * hash — uniform by construction, skew-free at any scale. */
  val q41DedupExact = Q(
    "q41_dedup_exact",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id")),
    Some("""SELECT md5(text) AS h, min(doc_id) AS keep_id,
      count(*) AS n_copies FROM documents GROUP BY 1 ORDER BY keep_id"""))

  // ---------------------------------------------------------------- q42
  /** Per-document token statistics: token count, char count, mean token
    * length (exact int sums; division is bigint/bigint → double, identical
    * across engines). */
  val q42TokenStats = Q(
    "q42_token_stats",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("n_chars"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("tok"))).as("sum_tok_len"),
        countDistinct(col("tok")).as("n_distinct"))
      .withColumn("mean_tok_len", col("sum_tok_len") / col("n_tokens"))
      .withColumn("ttr", col("n_distinct") / col("n_tokens"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, n_chars, count(*) AS n_tokens,
      cast(sum(length(tok)) as bigint) AS sum_tok_len,
      count(DISTINCT tok) AS n_distinct,
      cast(sum(length(tok)) as bigint) / count(*) AS mean_tok_len,
      count(DISTINCT tok) / count(*) AS ttr
      FROM (SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS tok
        FROM documents) t WHERE tok <> ''
      GROUP BY doc_id, n_chars ORDER BY doc_id"""))

  /** Shared stopword list for quality scoring and language-ID. */
  private val Stopwords = Seq("the", "a", "of", "and", "to", "in")

  // ---------------------------------------------------------------- q43
  /** Quality scoring: stopword ratio, mean word length, short-doc flag —
    * the heuristic filters an LLM-data pipeline runs before training.
    * Score arithmetic is int/int divisions only → cross-engine exact. */
  val q43QualityScore = Q(
    "q43_quality_score",
    (s, d) => {
      val stopSet = Stopwords.map(lit): Seq[Column]
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("doc_id"), col("n_chars"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("tok").isin(Stopwords: _*), 1L).otherwise(0L))
            .as("n_stop"))
        .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
        .withColumn("quality",
          when(col("n_tokens") < 20, lit("low"))
            .when(col("stop_ratio") > lit(0.2), lit("low"))
            .otherwise(lit("ok")))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id, n_chars, count(*) AS n_tokens,
      cast(sum(CASE WHEN tok IN
        (${Stopwords.map("'" + _ + "'").mkString(",")})
        THEN 1 ELSE 0 END) as bigint) AS n_stop,
      cast(sum(CASE WHEN tok IN
        (${Stopwords.map("'" + _ + "'").mkString(",")})
        THEN 1 ELSE 0 END) as bigint) / count(*) AS stop_ratio,
      CASE WHEN count(*) < 20 THEN 'low'
           WHEN sum(CASE WHEN tok IN
             (${Stopwords.map("'" + _ + "'").mkString(",")})
             THEN 1 ELSE 0 END) / count(*) > 0.2 THEN 'low'
           ELSE 'ok' END AS quality
      FROM (SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS tok
        FROM documents) t WHERE tok <> ''
      GROUP BY doc_id, n_chars ORDER BY doc_id"""))

  /** Marker vocabularies for the n-gram/marker-word language-ID heuristic. */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow"),
    "de" -> Seq("der", "und", "customer", "join"),
    "fr" -> Seq("le", "et", "scan", "data"),
    "es" -> Seq("el", "y", "agg", "merge"))

  // ---------------------------------------------------------------- q44
  /** Language identification by marker-token voting (n-gram heuristic):
    * argmax over per-language marker hit counts, deterministic tiebreak on
    * language code; confusion-matrix output vs the labeled `lang`. */
  val q44LangId = Q(
    "q44_langid",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
      val markerSums = LangMarkers.map { case (l, ms) =>
        sum(when(col("tok").isin(ms: _*), 1L).otherwise(0L)).as(s"s_$l")
      }
      val scores = toks.groupBy(col("doc_id"), col("lang"))
        .agg(markerSums.head, markerSums.tail: _*)
      // argmax via greatest + case chain, ties broken by language order
      val best = LangMarkers.foldRight(lit("und"): Column) {
        case ((l, _), acc) =>
          when(col(s"s_$l") === greatest(LangMarkers.map(m =>
            col(s"s_${m._1}")): _*) && col(s"s_$l") > 0, lit(l))
            .otherwise(acc)
      }
      scores.withColumn("predicted", best)
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("predicted"))
    }, {
      def inList(ms: Seq[String]) = ms.map("'" + _ + "'").mkString(",")
      val sums = LangMarkers.map { case (l, ms) =>
        s"sum(CASE WHEN tok IN (${inList(ms)}) THEN 1 ELSE 0 END) AS s_$l"
      }.mkString(", ")
      val grt = LangMarkers.map(m => s"s_${m._1}").mkString("greatest(", ",", ")")
      val caseChain = LangMarkers.map { case (l, _) =>
        s"WHEN s_$l = $grt AND s_$l > 0 THEN '$l'"
      }.mkString(" ")
      Some(s"""SELECT lang, predicted, count(*) AS n_docs FROM (
        SELECT doc_id, lang, CASE $caseChain ELSE 'und' END AS predicted
        FROM (SELECT doc_id, lang, $sums
          FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents) a GROUP BY doc_id, lang) b) c
        GROUP BY lang, predicted ORDER BY lang, predicted""")
    })

  // ---------------------------------------------------------------- q45
  /** Exact n-gram (3-shingle) Jaccard near-dup within a blocking key
    * (source): |A∩B| via equi-join on (source, shingle), |A|,|B| via
    * per-doc distinct counts — never an unblocked cross join. Integer set
    * sizes → exact cross-engine jaccard. */
  val q45NgramJaccard = Q(
    "q45_ngram_jaccard",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // grams built join-free by sliding a window over the token array
      // (the oracle builds them with positional self-joins — same set)
      val grams = docs
        .select(col("doc_id"), col("source"),
          split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3) // sequence() descends when stop<start
        .select(col("doc_id"), col("source"),
          explode(transform(
            sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ",
              element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2),
              element_at(col("toks"), i + 3)))).as("gram"))
        .distinct()
      val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = grams.alias("a")
        .join(grams.alias("b"),
          col("a.source") === col("b.source") &&
          col("a.gram") === col("b.gram") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
      inter
        .join(sizes.alias("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sizes.alias("sb"), col("doc_b") === col("sb.doc_id"))
        .withColumn("jaccard",
          col("i") / (col("sa.sz") + col("sb.sz") - col("i")))
        .filter(col("jaccard") >= 0.03)
        .select(col("doc_a"), col("doc_b"), col("i").as("n_common"),
          col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some("""WITH toks AS (
        SELECT * FROM (
          SELECT doc_id, source,
            unnest(string_split(text, ' ')) AS tok,
            unnest(range(len(string_split(text, ' ')))) AS pos
          FROM documents) z
        WHERE tok <> ''),
      grams AS (
        SELECT DISTINCT t0.doc_id, t0.source,
          t0.tok || ' ' || t1.tok || ' ' || t2.tok AS gram
        FROM toks t0
        JOIN toks t1 ON t0.doc_id = t1.doc_id AND t1.pos = t0.pos + 1
        JOIN toks t2 ON t0.doc_id = t2.doc_id AND t2.pos = t0.pos + 2),
      sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM grams a JOIN grams b ON a.source = b.source
          AND a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, i AS n_common,
        i / (sa.sz + sb.sz - i) AS jaccard
      FROM inter JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE i / (sa.sz + sb.sz - i) >= 0.03
      ORDER BY doc_a, doc_b"""))

  // ---------------------------------------------------------------- q117
  /** Composite corpus-cleaning pipeline — the end-to-end chain a training
    * run actually executes, as ONE plan: token/stopword quality gate →
    * exact dedup keep-first → language filter → deterministic hash-bucket
    * sample → per-source survivor counts. Each stage is individually
    * oracled elsewhere (q41-q44); this verifies their composition, with
    * every filter still pushed through the single scan. */
  val q117CorpusPipeline = Q(
    "q117_corpus_pipeline",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val stats = docs
        .select(col("doc_id"), col("source"), col("lang"), col("text"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("doc_id"), col("source"), col("lang"), col("text"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("tok").isin(Stopwords: _*), 1L).otherwise(0L))
            .as("n_stop"))
      val quality = stats.filter(
        col("n_tokens") >= 20 && col("n_stop") * 100 < col("n_tokens") * 60)
      val deduped = quality
        .withColumn("keep_id",
          min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(md5(col("text")))))
        .filter(col("doc_id") === col("keep_id"))
      val sampled = deduped
        .filter(col("lang") === "en")
        .filter(col("doc_id") % 10 < 7) // deterministic 70% sample bucket
      sampled
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
        .orderBy(col("source"))
    },
    Some(s"""WITH stats AS (
        SELECT doc_id, source, lang, text, count(*) AS n_tokens,
          cast(sum(CASE WHEN tok IN
            (${Stopwords.map("'" + _ + "'").mkString(",")})
            THEN 1 ELSE 0 END) AS bigint) AS n_stop
        FROM (SELECT doc_id, source, lang, text,
            unnest(string_split(text, ' ')) AS tok FROM documents) t
        WHERE tok <> '' GROUP BY 1, 2, 3, 4),
      quality AS (
        SELECT * FROM stats
        WHERE n_tokens >= 20 AND n_stop * 100 < n_tokens * 60),
      deduped AS (
        SELECT * FROM (
          SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
          FROM quality) t
        WHERE doc_id = keep_id),
      sampled AS (
        SELECT * FROM deduped WHERE lang = 'en' AND doc_id % 10 < 7)
      SELECT source, count(*) AS n_docs,
        cast(sum(n_tokens) AS bigint) AS total_tokens
      FROM sampled GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- q118
  /** BPE-style regex tokenization (the GPT-2 pre-tokenizer's class split,
    * simplified to engine-portable classes): words / digit runs /
    * punctuation runs extracted with regexp_extract_all, counted per
    * class per document — the "token counting" half a tokenizer-aware
    * pipeline budget needs (whitespace counting is q42). */
  val q118RegexTokens = Q(
    "q118_regex_tokens",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"),
          lit("([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+)"), lit(1))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bpe_tokens"),
        sum(when(col("tok").rlike("^[A-Za-z]+$"), 1L).otherwise(0L))
          .as("n_word"),
        sum(when(col("tok").rlike("^[0-9]+$"), 1L).otherwise(0L))
          .as("n_number"),
        countDistinct(col("tok")).as("n_vocab"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, count(*) AS n_bpe_tokens,
        cast(sum(CASE WHEN regexp_matches(tok, '^[A-Za-z]+$')
          THEN 1 ELSE 0 END) AS bigint) AS n_word,
        cast(sum(CASE WHEN regexp_matches(tok, '^[0-9]+$')
          THEN 1 ELSE 0 END) AS bigint) AS n_number,
        count(DISTINCT tok) AS n_vocab
      FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+)', 1)) AS tok
        FROM documents) t
      GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q136
  /** Token-budget sequence packing ([[graft.operators.SequencePacking]]):
    * the pack manifest over the documents corpus — 8 independent shards,
    * 512-token budget, whitespace token counts. The oracle replays the
    * offset-packing rule (per-shard running sum, pack = floor(start /
    * budget)) in SQL, so the hash verdict pins shard assignment, pack
    * boundaries, member counts, and token totals. */
  val q136SeqPacking = Q(
    "q136_seq_packing",
    (s, d) => graft.operators.SequencePacking.manifest(
        Tables.documents(s, d), "doc_id",
        size(split(col("text"), " ")), budget = 512L, shards = 8)
      .orderBy(col("shard"), col("pack_id")),
    Some("""WITH t AS (
        SELECT doc_id, doc_id % 8 AS shard,
          cast(len(string_split(text, ' ')) AS bigint) AS tok
        FROM documents),
      c AS (
        SELECT *, sum(tok) OVER (
          PARTITION BY shard ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) - tok AS start
        FROM t)
      SELECT shard, cast(start // 512 AS bigint) AS pack_id,
        count(*) AS n_docs,
        cast(sum(tok) AS bigint) AS pack_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY shard, pack_id ORDER BY shard, pack_id"""))

  // ---------------------------------------------------------------- q137
  /** Deterministic stratified sampling
    * ([[graft.operators.StratifiedSample]]): exactly 10 documents per
    * language chosen by md5-of-id ranking — the q79 technique promoted to
    * a corpus-curation operator, so the SAMPLED DOCS themselves are
    * oracled, not just the per-stratum counts. */
  val q137StratifiedSample = Q(
    "q137_stratified_sample",
    (s, d) => graft.operators.StratifiedSample.exactPerStratum(
        Tables.documents(s, d), "lang", "doc_id", k = 10)
      .select(col("lang"), col("sample_rank"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("sample_rank")),
    Some("""SELECT lang, sample_rank, doc_id, n_chars FROM (
        SELECT lang, doc_id, n_chars, row_number() OVER (
          PARTITION BY lang
          ORDER BY md5(cast(doc_id AS varchar)), doc_id) AS sample_rank
        FROM documents) t
      WHERE sample_rank <= 10 ORDER BY lang, sample_rank"""))

  // ---------------------------------------------------------------- q140
  /** PII redaction ([[graft.operators.TextRedact]]): synthetic emails,
    * phone numbers, and IPv4 addresses are injected deterministically per
    * document, then redacted to typed placeholders. The oracle replays
    * injection AND redaction with the same patterns (written in the
    * Java∩RE2 regex subset), so the hash verdict proves the redacted
    * STRINGS agree byte-for-byte cross-engine — the property that matters
    * when redaction runs in a polyglot pipeline. */
  val q140PiiRedact = Q(
    "q140_pii_redact",
    (s, d) => {
      import graft.operators.TextRedact
      val injected = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" contact u"), col("doc_id"), lit("@example.com or ("),
          lpad((col("doc_id") % 800 + 200).cast("string"), 3, "0"),
          lit(") 123-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" at 10.0."), (col("doc_id") % 256), lit(".7")).as("t"))
      injected.select(col("doc_id"),
          TextRedact.redactPii(col("t")).as("redacted"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(
        text || ' contact u' || doc_id || '@example.com or ('
          || lpad(cast(doc_id % 800 + 200 AS varchar), 3, '0') || ') 123-'
          || lpad(cast(doc_id % 10000 AS varchar), 4, '0')
          || ' at 10.0.' || (doc_id % 256) || '.7',
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
        '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS redacted
      FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q141
  /** Benchmark decontamination ([[graft.dedup.Decontaminate]]): documents
    * with doc_id % 97 == 0 play the eval suite; every other document
    * sharing a verbatim 4-gram with any of them lands on the drop list
    * with its overlap counts. The eval side is broadcast — the training
    * corpus is never shuffled, the scale property that makes this runnable
    * as a routine hygiene pass over 100 TB. */
  val q141Decontaminate = Q(
    "q141_decontaminate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.dedup.Decontaminate.dropList(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", n = 4)
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
          array_to_string(toks[i:i+3], ' ') AS shingle
        FROM toks, unnest(generate_series(1, greatest(len(toks) - 3, 0)))
          AS t(i)
        WHERE array_to_string(toks[i:i+3], ' ') <> ''),
      tr AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
      ev AS (SELECT doc_id AS eval_doc_id, shingle FROM sh
        WHERE doc_id % 97 = 0),
      ov AS (SELECT tr.doc_id, eval_doc_id, count(*) AS shared
        FROM tr JOIN ev USING (shingle) GROUP BY 1, 2)
      SELECT doc_id, count(*) AS n_eval_docs,
        cast(sum(shared) AS bigint) AS total_shared
      FROM ov GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q142
  /** Overlapping document chunking — the context-window preprocessing
    * step: each document splits into 64-token chunks at stride 48 (16
    * tokens of overlap so no span is ever cut without context). Join-free:
    * one `transform` over chunk starts + `posexplode`, the q128
    * frame-sampling shape applied to text. The oracle replays starts,
    * fenceposts, and the chunk STRINGS themselves. */
  val q142DocChunks = Q(
    "q142_doc_chunks",
    (s, d) => {
      val C = 64
      val S = 48
      val toks = Tables.documents(s, d).select(col("doc_id"),
        filter(split(col("text"), " "), t => t =!= "").as("toks"))
        .withColumn("n", size(col("toks")))
      toks.select(col("doc_id"), col("n"),
          posexplode(transform(
            sequence(lit(0),
              floor((greatest(col("n"), lit(1)) - 1) / S).cast("int")),
            i => concat_ws(" ", slice(col("toks"), i * S + 1, lit(C))))))
        .select(col("doc_id"), col("pos").as("chunk_idx"),
          col("col").as("chunk_text"),
          least(lit(C), col("n") - col("pos") * S).as("chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents),
      n AS (SELECT doc_id, toks, len(toks) AS n FROM toks)
      SELECT doc_id, i AS chunk_idx,
        array_to_string(toks[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text,
        least(64, n - i * 48) AS chunk_tokens
      FROM n, unnest(generate_series(0, (greatest(n, 1) - 1) // 48))
        AS t(i)
      ORDER BY doc_id, chunk_idx"""))

  // ---------------------------------------------------------------- q143
  /** Repetition filter (the Gopher-style quality heuristic): fraction of
    * duplicated 3-grams per document — 1 − distinct/total — flags
    * boilerplate and degenerate generations. Exact integer counts, ratio
    * as bigint/bigint division → cross-engine identical. */
  val q143RepetitionFilter = Q(
    "q143_repetition_filter",
    (s, d) => {
      val toks = Tables.documents(s, d).select(col("doc_id"),
        filter(split(col("text"), " "), t => t =!= "").as("toks"))
      val n = size(col("toks"))
      toks.select(col("doc_id"),
          explode(when(n >= 3, transform(
              sequence(lit(0), n - 3),
              i => concat_ws(" ", slice(col("toks"), i + 1, lit(3)))))
            .otherwise(array().cast("array<string>"))).as("gram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("total_grams"),
          countDistinct(col("gram")).as("distinct_grams"))
        .withColumn("rep_ratio",
          lit(1.0) - col("distinct_grams") / col("total_grams"))
        .withColumn("repetitive", col("rep_ratio") > 0.2)
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, count(*) AS total_grams,
      count(DISTINCT gram) AS distinct_grams,
      1.0 - count(DISTINCT gram) / count(*) AS rep_ratio,
      (1.0 - count(DISTINCT gram) / count(*)) > 0.2 AS repetitive
      FROM (
        SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS gram
        FROM (SELECT doc_id,
            list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents) t,
          unnest(generate_series(1, len(toks) - 2)) AS u(i)
        WHERE len(toks) >= 3) g
      GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q146
  /** Leakage-safe train/val/test split ([[graft.operators.DataSplit]]):
    * documents are dealt 80/10/10 by hashing their SOURCE, so every doc
    * from one origin lands in the same split — the guard against eval
    * leakage through near-identical rows from one domain. The oracle
    * replays the md5 bucket ranges per row, so the hash verdict pins
    * every single assignment, and the spec pins the leakage property. */
  val q146LeakageSafeSplit = Q(
    "q146_leakage_safe_split",
    (s, d) => graft.operators.DataSplit.assign(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        "source", salt = "graft-r5", trainFrac = 0.8, valFrac = 0.1)
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, source,
        CASE WHEN h < 'cd' THEN 'train'
             WHEN h < 'e6' THEN 'val'
             ELSE 'test' END AS split
      FROM (SELECT doc_id, source,
          substr(md5(source || ':' || 'graft-r5'), 1, 2) AS h
        FROM documents) t
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q147
  /** Per-group quantile threshold calibration
    * ([[graft.operators.QuantileFloor]]): each language's p10 token count
    * becomes its floor, and the corpus is filtered against it — the
    * "drop the shortest 10% per language" two-pass recipe. Pass 1 is a
    * (group, score) histogram walked to the percentile (the window sees
    * distinct score values, never corpus rows); pass 2 broadcasts the
    * per-group thresholds, so the corpus is never shuffled. The oracle
    * replays the discrete percentile (value at row ceil(q·n)) and both
    * counts exactly; the percentile_approx sketch path is spec-bounded
    * against this exact one. */
  val q147QuantileFloor = Q(
    "q147_quantile_floor",
    (s, d) => {
      import graft.operators.QuantileFloor
      val stats = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        size(filter(split(col("text"), " "), t => t =!= ""))
          .cast("long").as("n_tokens"))
      val thr = QuantileFloor.thresholds(stats, "lang", "n_tokens", q = 0.1)
      val kept = QuantileFloor.applyFloor(stats, thr, "lang", "n_tokens")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      stats.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
        .join(thr, Seq("lang")).join(kept, Seq("lang"))
        .select(col("lang"), col("threshold"), col("n_total"), col("n_kept"))
        .orderBy(col("lang"))
    },
    Some("""WITH t AS (
        SELECT doc_id, lang,
          cast(len(list_filter(string_split(text, ' '), x -> x <> ''))
            AS bigint) AS n_tokens
        FROM documents),
      r AS (SELECT lang, doc_id, n_tokens,
          row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id)
            AS rn,
          count(*) OVER (PARTITION BY lang) AS n
        FROM t),
      thr AS (SELECT lang, n_tokens AS threshold FROM r
        WHERE rn = ceil(0.1 * n))
      SELECT t.lang, threshold, count(*) AS n_total,
        cast(sum(CASE WHEN n_tokens >= threshold THEN 1 ELSE 0 END)
          AS bigint) AS n_kept
      FROM t JOIN thr ON t.lang = thr.lang
      GROUP BY t.lang, threshold ORDER BY t.lang"""))

  // ---------------------------------------------------------------- q174
  /** Bigram familiarity scoring — the count-based analogue of the KenLM
    * perplexity quality gate: each document is scored by how common its
    * word bigrams are in the corpus itself (average corpus frequency of
    * the doc's bigram occurrences). Low scores flag boilerplate-free but
    * alien text (wrong language, encoding damage, gibberish) without any
    * external model. Exact integer counts end-to-end; the score is
    * bigint/bigint through IEEE division, so the oracle is hash-exact —
    * no log-space floats. Scale shape: one bigram count aggregation +
    * one join back, both keyed on the bigram STRING — this is the
    * verification baseline; the production paths are IMPLEMENTED as
    * q179 ([[graft.operators.BigramFamiliarity.scoreHashed]], same
    * scores on 8-byte xxhash64 shuffle keys) and q180
    * ([[graft.operators.BigramFamiliarity.scoreTopK]], broadcast top-K
    * with tail default 1 — no doc-side shuffle at all). Docs with
    * fewer than 2 tokens have no bigrams and are absent. */
  val q174BigramFamiliarity = Q(
    "q174_bigram_familiarity",
    (s, d) => {
      val toks = filter(split(col("text"), " "), t => t =!= "")
      val bi0 = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(when(size(toks) >= 2,
            transform(sequence(lit(0), size(toks) - 2),
              i => concat_ws(" ", slice(toks, i + 1, lit(2)))))
            .otherwise(array().cast("array<string>"))).as("bigram"))
      // the bigram occurrence stream feeds BOTH the corpus count
      // aggregate and the join back — materialize it once instead of
      // re-running the text scan + explode per consumer (guide §1.2;
      // size-gated: the stream is corpus × tokens-sized at 100×)
      val bi = graft.core.StateTable.pinOrStage(
        bi0, Seq(col("bigram")), "q174_bi").df
      val counts = bi.groupBy(col("bigram"))
        .agg(count(lit(1)).as("bg_count"))
      bi.join(counts, Seq("bigram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("bg_count")).as("familiar_sum"))
        .withColumn("score", col("familiar_sum") / col("n_bigrams"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id,
        list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
      b AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bigram
        FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE len(toks) >= 2),
      c AS (SELECT bigram, count(*) AS bg_count FROM b GROUP BY bigram)
      SELECT doc_id, count(*) AS n_bigrams,
        cast(sum(bg_count) AS bigint) AS familiar_sum,
        cast(sum(bg_count) AS bigint) / count(*) AS score
      FROM b JOIN c USING (bigram) GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q179
  /** The PRODUCTION path of q174
    * ([[graft.operators.BigramFamiliarity.scoreHashed]]): identical
    * scores, but both shuffles — the corpus count aggregation and the
    * join back to occurrences — exchange 8-byte `xxhash64` keys instead
    * of bigram strings. The oracle is the SAME string-keyed SQL as
    * q174, so a green row IS the proof that the hash-keyed relaxation
    * computes the exact reference semantics (no collision among this
    * corpus's bigrams; see the operator scaladoc for the collision
    * arithmetic at 100 TB). */
  val q179BigramHashed = Q(
    "q179_bigram_hashed",
    (s, d) => graft.operators.BigramFamiliarity
      .scoreHashed(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id,
        list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
      b AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bigram
        FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE len(toks) >= 2),
      c AS (SELECT bigram, count(*) AS bg_count FROM b GROUP BY bigram)
      SELECT doc_id, count(*) AS n_bigrams,
        cast(sum(bg_count) AS bigint) AS familiar_sum,
        cast(sum(bg_count) AS bigint) / count(*) AS score
      FROM b JOIN c USING (bigram) GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q180
  /** The BROADCAST regime of q174
    * ([[graft.operators.BigramFamiliarity.scoreTopK]]): only the top-100
    * bigrams (count desc, bigram asc — deterministic, so the oracle
    * replays the exact boundary) keep exact counts, the tail defaults
    * to 1, and the scoring join broadcasts the 100-row table — the doc
    * side never enters an exchange. This is the documented 100 TB
    * default where even hashed count-join traffic is too much; the
    * oracle replays the top-K selection and the tail default
    * end-to-end, so the approximation itself is hash-exact. */
  val q180BigramTopK = Q(
    "q180_bigram_topk",
    (s, d) => graft.operators.BigramFamiliarity
      .scoreTopK(Tables.documents(s, d), "doc_id", "text", k = 100)
      .orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id,
        list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
      b AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bigram
        FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE len(toks) >= 2),
      c AS (SELECT bigram, count(*) AS bg_count FROM b GROUP BY bigram),
      top AS (SELECT bigram, bg_count FROM c
        ORDER BY bg_count DESC, bigram LIMIT 100)
      SELECT doc_id, count(*) AS n_bigrams,
        cast(sum(coalesce(top.bg_count, 1)) AS bigint) AS familiar_sum,
        cast(sum(coalesce(top.bg_count, 1)) AS bigint) / count(*) AS score
      FROM b LEFT JOIN top USING (bigram)
      GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q183
  /** TF-IDF keyword extraction ([[graft.operators.TfIdf.topTerms]]):
    * every document's top-5 terms by the RATIONAL score tf × N / df —
    * no log-space idf, so the one double division is IEEE-exact
    * cross-engine and the full ranking (ties by term asc) is
    * hash-exact. The oracle replays tokenization, tf, df, N, every
    * score, and the rank cut. */
  val q183TfidfKeywords = Q(
    "q183_tfidf_keywords",
    (s, d) => graft.operators.TfIdf
      .topTerms(Tables.documents(s, d), "doc_id", "text", k = 5)
      .orderBy(col("doc_id"), col("term_rank")),
    Some("""WITH t AS (SELECT doc_id, unnest(
        list_filter(string_split(text, ' '), x -> x <> '')) AS term
      FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      s AS (SELECT doc_id, term, tf, df,
          (tf * (SELECT count(*) FROM documents)) / df AS score
        FROM tf JOIN df USING (term)),
      r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, term) AS term_rank FROM s)
      SELECT doc_id, term, tf, df, score, term_rank
      FROM r WHERE term_rank <= 5 ORDER BY doc_id, term_rank"""))

  // ---------------------------------------------------------------- q175
  /** Deterministic WEIGHTED sampling
    * ([[graft.operators.StratifiedSample.weightedByTickets]]): the
    * top-100 documents drawn with probability proportional to token
    * count — each document holds min(tokens, 64) md5 tickets and its
    * key is its smallest draw, so long documents win proportionally
    * more often yet the whole sample is a pure function of (corpus,
    * salt). The oracle replays every ticket draw, the per-doc minima,
    * and the global ranking, pinning the sampled set and its order. */
  val q175WeightedSample = Q(
    "q175_weighted_sample",
    (s, d) => {
      val tok = size(filter(split(col("text"), " "), t => t =!= ""))
      graft.operators.StratifiedSample.weightedByTickets(
          Tables.documents(s, d)
            .select(col("doc_id"), col("lang"), tok.as("w")),
          "doc_id", col("w"), k = 100, salt = "wt-r5")
        .select(col("doc_id"), col("lang"), col("w").cast("long").as("w"),
          col("sample_rank").cast("long").as("sample_rank"),
          col("ticket_min"))
        .orderBy(col("sample_rank"))
    },
    Some("""WITH t AS (SELECT doc_id, lang,
        cast(len(list_filter(string_split(text, ' '), x -> x <> ''))
          AS int) AS w
      FROM documents),
      m AS (SELECT doc_id, min(md5(cast(doc_id AS varchar) || ':' ||
          cast(u.t AS varchar) || ':wt-r5')) AS ticket_min
        FROM t, unnest(generate_series(1, greatest(least(w, 64), 1)))
          AS u(t)
        GROUP BY doc_id),
      r AS (SELECT doc_id, ticket_min, row_number() OVER (
          ORDER BY ticket_min, doc_id) AS sample_rank FROM m)
      SELECT r.doc_id, lang, cast(w AS bigint) AS w, sample_rank,
        ticket_min
      FROM r JOIN t USING (doc_id) WHERE sample_rank <= 100
      ORDER BY sample_rank"""))

  // ---------------------------------------------------------------- q186
  /** BM25 retrieval ([[graft.operators.Bm25.retrieve]]): top-20
    * documents for the query `hash join scan vector`, scored by the
    * rational-exact BM25 rearrangement (k1 = 6/5, b = 3/4 multiplied
    * through to bigint numerators/denominators, three IEEE double ops,
    * fixed-point floor ×10⁶) so the cross-term SUM is a bigint sum —
    * order-independent and driver-exact. The oracle replays
    * tokenization, df, both rational factors, the floor, the sum, and
    * the rank cut end-to-end. */
  val q186Bm25Retrieve = Q(
    "q186_bm25_retrieve",
    (s, d) => graft.operators.Bm25
      .retrieve(Tables.documents(s, d), "doc_id", "text",
        "hash join scan vector", k = 20)
      .orderBy(col("doc_rank")),
    Some("""WITH t AS (SELECT doc_id,
        list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
      stats AS (SELECT count(*) AS n,
        cast(sum(len(toks)) AS bigint) AS tot FROM t),
      tf AS (SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM t)
        WHERE term IN ('hash', 'join', 'scan', 'vector')
        GROUP BY 1, 2),
      dl AS (SELECT doc_id, cast(len(toks) AS bigint) AS dl FROM t),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      s AS (SELECT doc_id,
          cast(floor(
            (cast(2 * n - 2 * df + 1 AS double)
              / cast(2 * df + 1 AS double))
            * (cast(22 * tot * tf AS double)
              / cast(10 * tot * tf + 3 * tot + 9 * n * dl AS double))
            * 1000000e0) AS bigint) AS score_fp
        FROM tf JOIN dl USING (doc_id) JOIN df USING (term), stats),
      agg AS (SELECT doc_id, cast(sum(score_fp) AS bigint) AS score_fp,
          count(*) AS n_terms_hit FROM s GROUP BY doc_id),
      r AS (SELECT *, row_number() OVER (ORDER BY score_fp DESC, doc_id)
          AS doc_rank FROM agg)
      SELECT doc_id, score_fp, n_terms_hit, doc_rank
      FROM r WHERE doc_rank <= 20 ORDER BY doc_rank"""))

  // ---------------------------------------------------------------- q215
  /** Mixed-language detection: q142's chunking × q44's marker-vote
    * language id, composed per document — each 64-token chunk votes a
    * language, and a doc whose chunks disagree is flagged mixed (the
    * corpus-cleaning gate that catches concatenation artifacts and
    * code-switching that whole-doc language id averages away).
    * majority_share is one IEEE division of exact longs. Chunk ids are
    * a map-side integer div; everything aggregates doc-keyed. */
  val q215MixedLanguage = Q(
    "q215_mixed_language",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(filter(split(col("text"), " "), t => t =!= ""))
            .as(Seq("pos", "tok")))
        .withColumn("chunk", expr("pos div 64"))
      val markerSums = LangMarkers.map { case (l, ms) =>
        sum(when(col("tok").isin(ms: _*), 1L).otherwise(0L)).as(s"s_$l")
      }
      val best = LangMarkers.foldRight(lit("und"): Column) {
        case ((l, _), acc) =>
          when(col(s"s_$l") === greatest(LangMarkers.map(m =>
            col(s"s_${m._1}")): _*) && col(s"s_$l") > 0, lit(l))
            .otherwise(acc)
      }
      val chunkLang = toks.groupBy(col("doc_id"), col("chunk"))
        .agg(markerSums.head, markerSums.tail: _*)
        .withColumn("predicted", best)
      val perLang = chunkLang.groupBy(col("doc_id"), col("predicted"))
        .agg(count(lit(1)).as("n"))
      perLang.groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_chunks"),
          count(lit(1)).as("n_langs"),
          max(col("n")).as("top_chunks"))
        .withColumn("majority_share",
          col("top_chunks") / col("n_chunks"))
        .withColumn("is_mixed", col("n_langs") > 1)
        .select(col("doc_id"), col("n_chunks"), col("n_langs"),
          col("top_chunks"), col("majority_share"), col("is_mixed"))
        .orderBy(col("doc_id"))
    }, {
      def inList(ms: Seq[String]) = ms.map("'" + _ + "'").mkString(",")
      val sums = LangMarkers.map { case (l, ms) =>
        s"sum(CASE WHEN tok IN (${inList(ms)}) THEN 1 ELSE 0 END) AS s_$l"
      }.mkString(", ")
      val grt = LangMarkers.map(m => s"s_${m._1}")
        .mkString("greatest(", ",", ")")
      val caseChain = LangMarkers.map { case (l, _) =>
        s"WHEN s_$l = $grt AND s_$l > 0 THEN '$l'"
      }.mkString(" ")
      Some(s"""WITH t AS (SELECT doc_id,
          unnest(list_filter(string_split(text, ' '), x -> x <> ''))
            AS tok,
          (generate_subscripts(
            list_filter(string_split(text, ' '), x -> x <> ''), 1) - 1)
            // 64 AS chunk
        FROM documents),
        cl AS (SELECT doc_id, chunk, $sums FROM t GROUP BY 1, 2),
        pred AS (SELECT doc_id, chunk,
            CASE $caseChain ELSE 'und' END AS predicted FROM cl),
        per_lang AS (SELECT doc_id, predicted, count(*) AS n
          FROM pred GROUP BY 1, 2)
        SELECT doc_id, cast(sum(n) AS bigint) AS n_chunks,
          count(*) AS n_langs, cast(max(n) AS bigint) AS top_chunks,
          max(n) / cast(sum(n) AS bigint) AS majority_share,
          (count(*) > 1) AS is_mixed
        FROM per_lang GROUP BY doc_id ORDER BY doc_id""")
    })

  // ---------------------------------------------------------------- q236
  /** Hashing-trick featurization ([[graft.operators.FeatureHashing]]):
    * signed-sum sparse features over 256 md5 buckets — the
    * vocabulary-free, map-only featurizer (no corpus pass, no
    * broadcast vocab; contrast q150's built Vocabulary). Exact integer
    * weights; the md5 hex bucket + sign-bit replay cell-for-cell in
    * DuckDB. Only a sample of docs is emitted to keep the verified
    * frame small — the featurization itself is per-row. */
  val q236FeatureHashing = Q(
    "q236_feature_hashing",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      graft.operators.FeatureHashing
        .hashFeatures(toks, col("doc_id"), col("tok"), hexChars = 2)
        .select(col("doc").as("doc_id"), col("bucket"), col("weight"))
        .orderBy(col("doc_id"), col("bucket"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id % 20 = 0),
      h AS (SELECT doc_id,
          substr(md5(tok || ':fh'), 1, 2) AS bucket,
          CASE WHEN substr(md5(tok || ':fh'), 3, 1)
            IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS sgn
        FROM toks WHERE tok <> '')
      SELECT doc_id, bucket, cast(sum(sgn) AS bigint) AS weight
      FROM h GROUP BY doc_id, bucket
      HAVING cast(sum(sgn) AS bigint) <> 0
      ORDER BY doc_id, bucket"""))

  val all: Seq[Q] = Seq(
    q41DedupExact, q42TokenStats, q43QualityScore, q44LangId,
    q45NgramJaccard, q117CorpusPipeline, q118RegexTokens,
    q136SeqPacking, q137StratifiedSample, q140PiiRedact, q141Decontaminate,
    q142DocChunks, q143RepetitionFilter, q146LeakageSafeSplit,
    q147QuantileFloor, q174BigramFamiliarity, q175WeightedSample,
    q179BigramHashed, q180BigramTopK, q183TfidfKeywords, q186Bm25Retrieve,
    q215MixedLanguage, q236FeatureHashing)
}
