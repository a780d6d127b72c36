package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical phrase induction and corpus rewrite (the word2phrase /
  * BPE-merge-step shape): adjacent token pairs whose co-occurrence
  * significantly beats independence become single units, and every
  * qualifying occurrence is merged leftmost-non-overlapping across the
  * corpus — the vocabulary-compression pass a tokenizer-training
  * pipeline runs before counting merge candidates again.
  *
  * Exactness discipline: the word2phrase score
  * `(n_ab − δ) / (n_a·n_b) ≥ τ / N` is evaluated as the cross-multiplied
  * integer inequality `(n_ab − δ) · N ≥ τ · n_a · n_b` — all longs, no
  * division at all — so the qualifying phrase SET is bit-reproducible.
  * The rewrite is deterministic: within a run of CONSECUTIVE qualifying
  * positions ("a a a" where "a a" qualifies), odd ordinals merge and
  * even ones are consumed — exactly the leftmost-non-overlapping scan a
  * sequential implementation performs, computed distributed via the
  * pos − row_number run-grouping trick (no sequential pass).
  *
  * Scale shape: one doc-keyed window sort produces adjacency; pair and
  * unigram counts are map-side-combinable aggregates; the qualifying
  * pair table is broadcast back into the position stream; the rewrite
  * is two window functions over the same doc-keyed sort. Nothing joins
  * the corpus to itself.
  */
object PhraseMerge {

  /** Qualifying adjacent pairs with exact counts:
    * (w1, w2, n_ab, n_a, n_b). δ = `discount` kills rare-pair noise;
    * τ/N = `scoreNum`/`scoreDen` is the score threshold as a rational
    * (N is substituted by the caller via scoreDen — pass the corpus
    * bigram total for the canonical word2phrase form). */
  def phrases(
      docs: DataFrame, idCol: String, textCol: String,
      discount: Long, scoreNum: Long, scoreDen: Long): DataFrame = {
    require(discount >= 0, "discount must be >= 0")
    require(scoreNum >= 1 && scoreDen >= 1, "score must be positive")
    val t = tokens(docs, idCol, textCol)
    val w = Window.partitionBy(col("__doc")).orderBy(col("pos"))
    val adj = t.withColumn("w2", lead(col("w"), 1).over(w))
      .filter(col("w2").isNotNull)
    val uni = t.groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    adj.groupBy(col("w").as("w1"), col("w2"))
      .agg(count(lit(1)).as("n_ab"))
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_b")), Seq("w2"))
      .filter((col("n_ab") - lit(discount)) * lit(scoreDen) >=
        lit(scoreNum) * col("n_a") * col("n_b"))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"))
  }

  /** One merge pass: rewrite every doc with qualifying pairs joined as
    * `w1_w2`, leftmost-non-overlapping. Output per doc:
    * (idCol, n_before, n_merges, n_after, new_text). */
  def mergeOnce(
      docs: DataFrame, idCol: String, textCol: String,
      discount: Long, scoreNum: Long, scoreDen: Long): DataFrame = {
    val ph = phrases(docs, idCol, textCol, discount, scoreNum, scoreDen)
      .select(col("w1"), col("w2"))
    val t = tokens(docs, idCol, textCol)
    val w = Window.partitionBy(col("__doc")).orderBy(col("pos"))
    val cand = t
      .withColumn("nxt", lead(col("w"), 1).over(w))
      .join(broadcast(ph), col("w") === col("w1") &&
        col("nxt") === col("w2"), "left")
      .withColumn("m", col("w1").isNotNull)
      .select(col("__doc"), col("pos"), col("w"), col("nxt"), col("m"))
    // leftmost-non-overlap: in each run of consecutive matches, odd
    // ordinals merge; a position is CONSUMED if the previous position
    // merged. run id = pos − row_number among matches (doc-keyed).
    val wm = Window.partitionBy(col("__doc"), col("run"))
      .orderBy(col("pos"))
    val marked = cand
      .withColumn("run", when(col("m"),
        col("pos") - row_number().over(
          Window.partitionBy(col("__doc"), col("m")).orderBy(col("pos")))))
      .withColumn("ord", when(col("m"), row_number().over(wm)))
      .withColumn("merge_here", col("m") && col("ord") % 2 === 1)
      .withColumn("consumed",
        coalesce(lag(col("merge_here"), 1).over(w), lit(false)))
    val rebuilt = marked
      .filter(!col("consumed"))
      .withColumn("out_w", when(col("merge_here"),
        concat(col("w"), lit("_"), col("nxt"))).otherwise(col("w")))
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_after"),
        sum(when(col("merge_here"), 1L).otherwise(0L)).as("n_merges"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("out_w")))),
          x => x.getField("out_w")), " ").as("new_text"))
    docs.select(col(idCol), size(filter(split(col(textCol), " "),
        x => x =!= "")).cast("long").as("n_before"))
      .join(rebuilt.withColumnRenamed("__doc", idCol), Seq(idCol), "left")
      .na.fill(0L, Seq("n_after", "n_merges"))
      .na.fill("", Seq("new_text"))
      .select(col(idCol), col("n_before"), col("n_merges"),
        col("n_after"), col("new_text"))
  }

  /** One completed training round's driver-side stats. */
  final case class MergeRound(round: Int, merges: Long, vocab: Long)

  /** ITERATED merge training — the BPE-style tokenizer loop: requalify
    * and merge until `maxRounds` rounds ran, a round merges nothing, or
    * the vocabulary (distinct token count of the rewritten corpus)
    * drops to `vocabBudget` (0 = no budget). Each round recounts pairs
    * and unigrams on the PREVIOUS round's rewritten corpus, so merged
    * units ("a_b") qualify as members of longer phrases in later
    * rounds — exactly how word2phrase builds trigrams+ by re-running
    * and how BPE grows its vocabulary one merge table at a time.
    *
    * Returns the final per-doc frame
    * `(idCol, n_before, n_merges, n_after, new_text)` — n_before is
    * the ORIGINAL token count, n_merges the total across rounds,
    * n_after/new_text the final corpus — plus the per-round stats.
    *
    * Scale shape: each round is one [[mergeOnce]] (doc-keyed window
    * sort + broadcast phrase table — the qualifying set is
    * significance-filtered, vocabulary²-bounded in principle and tiny
    * in practice), and the corpus is rewritten O(rounds) times — the
    * inherent cost of iterated merge training; rounds are bounded by
    * the caller. Per-round state is pinned and the superseded round
    * unpinned (the KCore round discipline), so a long training run
    * holds ONE corpus copy, not one per round. Early stop is exact:
    * a 0-merge round is a fixed point (round r+1 would qualify the
    * same empty set), so stopping early returns what more rounds
    * would. */
  def iterate(
      docs: DataFrame, idCol: String, textCol: String,
      discount: Long, scoreNum: Long, scoreDen: Long,
      maxRounds: Int, vocabBudget: Long = 0L)
      : (DataFrame, Seq[MergeRound]) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    // scalar anchors per round: CUMULATIVE merge total + rewritten
    // vocabulary size (both cached scans over the round's pin)
    def anchors(df: DataFrame): (Long, Long) = {
      val m = df.agg(sum(col("n_merges"))).head()
      val merges = if (m.isNullAt(0)) 0L else m.getLong(0)
      val vocab = df
        .select(explode(filter(split(col("new_text"), " "),
          x => x =!= "")).as("w"))
        .agg(count_distinct(col("w"))).head().getLong(0)
      (merges, vocab)
    }
    // acc: (idCol, n_before, n_merges-cumulative, n_after, new_text)
    var acc = mergeOnce(docs, idCol, textCol, discount, scoreNum,
      scoreDen).transform(graft.core.StateTable.pin)
    var (cum, vocab) = anchors(acc)
    var roundMerges = cum
    val stats =
      scala.collection.mutable.ListBuffer(MergeRound(1, cum, vocab))
    var r = 1
    while (r < maxRounds && roundMerges > 0 &&
        (vocabBudget <= 0 || vocab > vocabBudget)) {
      r += 1
      val next = mergeOnce(
        acc.select(col(idCol), col("new_text").as(textCol)),
        idCol, textCol, discount, scoreNum, scoreDen)
      val combined = acc
        .select(col(idCol), col("n_before"),
          col("n_merges").as("__m_prev"))
        .join(next.drop("n_before"), Seq(idCol))
        .select(col(idCol), col("n_before"),
          (col("__m_prev") + col("n_merges")).as("n_merges"),
          col("n_after"), col("new_text"))
        .transform(graft.core.StateTable.pin)
      graft.core.StateTable.unpin(acc)
      acc = combined
      val (cum2, vocab2) = anchors(acc)
      roundMerges = cum2 - cum
      cum = cum2
      vocab = vocab2
      stats += MergeRound(r, roundMerges, vocab)
    }
    (acc, stats.toList)
  }

  private def tokens(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("__doc"),
      posexplode(filter(split(col(textCol), " "), x => x =!= ""))
        .as(Seq("pos", "w")))
}
