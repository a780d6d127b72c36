package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate fingerprinting (Charikar 2002, public):
  * each token votes ±1 on every bit of its 64-bit hash; the document
  * fingerprint takes the sign of each bit's vote sum. Documents within
  * Hamming distance `maxHamming` are near-duplicates.
  *
  * Implementation is one explode + one hash aggregation with 64 codegen'd
  * sum columns — no UDFs. Pair search uses the pigeonhole block trick: a
  * 64-bit fingerprint split into `maxHamming + 1` blocks; near pairs must
  * agree exactly on ≥1 block, so candidates come from equi-joins on
  * (block index, block value) — never all-pairs, the property that matters
  * at corpus scale.
  */
object SimHash {

  /** Cross-engine-reproducible 62-bit token hash: two 31-bit polynomial
    * rolls over the token's code points (bases 31 and 37, Mersenne 2^31-1
    * modulus) packed side by side. Every step is plain integer arithmetic
    * a differential oracle can replay in ANSI SQL — unlike xxhash64 — at
    * the cost of an interpreted higher-order fold, so it is the
    * VERIFICATION hash; [[fingerprints]] defaults to codegen'd xxhash64
    * for production runs. */
  def polyHash62(tok: Column): Column = {
    def roll(base: Int): Column = aggregate(
      sequence(lit(1), length(tok)), lit(0L),
      (acc, i) => (acc * base + ascii(substring(tok, i, lit(1)))) % 2147483647L)
    roll(31) + shiftleft(roll(37), 31)
  }

  /** Per-document fingerprint as a long column `simhash`: each token votes
    * ±1 on each of `bits` bits of its hash; the fingerprint takes the
    * vote signs.
    *
    * `hashDistinct` evaluates the hash once per DISTINCT token and joins
    * it back — worth it when the hash is expensive (the interpreted
    * polyHash62 fold) and the vocabulary is much smaller than the token
    * stream, which is exactly the 100 TB corpus shape; pointless overhead
    * for codegen'd xxhash64, hence default off. */
  def fingerprints(
      docs: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column = xxhash64(_), bits: Int = 64,
      hashDistinct: Boolean = false): DataFrame = {
    val raw = docs.select(col(idCol),
        explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val toks =
      if (hashDistinct) {
        val vocab = raw.select(col("tok")).distinct()
          .withColumn("h", tokenHash(col("tok")))
        raw.join(vocab, Seq("tok"))
      } else raw.withColumn("h", tokenHash(col("tok")))
    val votes = (0 until bits).map { i =>
      // bit i set → +1 else -1
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"v_$i")
    }
    val agg = toks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val fp = (0 until bits).map { i =>
      when(col(s"v_$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    agg.select(col(idCol), fp.as("simhash"))
  }

  private def popcount(c: Column): Column = bit_count(c)

  /** Near-dup pairs with Hamming distance <= maxHamming via pigeonhole
    * blocking on fingerprint chunks: a pair within the bound MUST agree
    * exactly on at least one of maxHamming+1 blocks, so recall is total —
    * blocking changes cost, never results (when `maxBlockSize` is unset).
    *
    * `maxBlockSize` is the skew guard for the 100 TB regime: a degenerate
    * block value shared by k documents (short or boilerplate docs piling
    * onto the same 16 bits) contributes k² candidate pairs, the one
    * super-linear term in the plan. Capping drops blocks larger than the
    * bound BEFORE the self-join — the same trade MinHash.candidates makes
    * with maxBucketSize: a pair is lost only if EVERY block it agrees on
    * is oversized, and cost becomes O(blocks × cap²) worst-case per block
    * value. The exact (uncapped) form stays the oracled path (q47). */
  def nearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      tokenHash: Column => Column = xxhash64(_), totalBits: Int = 64,
      hashDistinct: Boolean = false,
      maxBlockSize: Option[Int] = None): DataFrame =
    pairsOfFingerprints(
      fingerprints(docs, idCol, textCol, tokenHash, totalBits,
        hashDistinct),
      idCol, maxHamming, totalBits, maxBlockSize)

  /** The pigeonhole pair search over an existing `(idCol, simhash)`
    * frame — the pair-search half of [[nearDuplicates]], reusable over
    * any fingerprint set.
    *
    * UNCAPPED (exact) path: single-block agreement saturates — with
    * `maxHamming + 1` blocks over 62/64 bits each block value is only
    * 12-16 bits wide, so past ~100k documents EVERY block value holds
    * hundreds of docs and the self-join's Σ·g² candidate term goes
    * quadratic regardless of content (the 100× probe OOM'd exactly
    * there). The exact path therefore (1) collapses to DISTINCT
    * fingerprints first — identical docs never enter the block join,
    * the q47-at-30× lesson [[componentEdges]] already encoded — and
    * (2) blocks on PAIRS of agreeing blocks: with `maxHamming + 2`
    * blocks a pair within the bound touches ≤ maxHamming of them, so
    * it agrees exactly on ≥ 2 — recall stays total while the composite
    * key is twice as wide (~20-24 bits), collapsing the collision
    * quadratic. Doc pairs are re-expanded from fingerprint pairs
    * OUTPUT-SIZED (fp-pair ⋈ members ⋈ members, plus the intra-group
    * hamming-0 self-join) — no distinct ever holds doc-pair state.
    *
    * CAPPED path (`maxBlockSize`): unchanged single-block semantics —
    * the cap's drop rule is part of q132's oracled CONTRACT ("a pair
    * is lost only if every block it agrees on is oversized"), and the
    * cap already bounds the candidate quadratic by construction.
    *
    * PRECONDITION: `fps` must be id-unique — one row per `idCol` value.
    * The uncapped path re-expands fingerprint pairs through member
    * joins with no trailing doc-pair distinct (holding doc-pair state
    * is exactly what the rewrite removed), so duplicate (id, simhash)
    * input rows would emit duplicate pair rows. Both in-repo producers
    * ([[fingerprints]] output, [[componentEdges]] grouped members) are
    * id-unique by construction. */
  def pairsOfFingerprints(
      fps: DataFrame, idCol: String, maxHamming: Int,
      totalBits: Int = 64,
      maxBlockSize: Option[Int] = None): DataFrame = maxBlockSize match {
    case Some(cap) =>
      val blocks = maxHamming + 1
      val bits = totalBits / blocks
      val chunks = (0 until blocks).map { b =>
        struct(lit(b).as("blk"),
          shiftright(col("simhash"), b * bits)
            .bitwiseAND((1L << bits) - 1).as("bv"))
      }
      // materialize the fingerprints once (the uncapped path below has
      // always pinned them): the keyed stream feeds the block-size
      // aggregate AND both self-join sides, and without the pin the
      // whole fingerprint subtree — for q132 an INTERPRETED polyHash62
      // fold over the vocabulary — re-executes per consumer (guide
      // §1.2; measured 9.7 s vs q47's 2.7 s for the same corpus)
      val pinnedFps = fps.select(col(idCol), col("simhash"))
        .transform(graft.core.StateTable.pin)
      val keyedAll = pinnedFps.select(col(idCol), col("simhash"),
          explode(array(chunks: _*)).as("c"))
        .select(col(idCol), col("simhash"),
          col("c.blk").as("blk"), col("c.bv").as("bv"))
      val sizes = keyedAll.groupBy(col("blk"), col("bv"))
        .agg(count(lit(1)).as("block_n"))
      val keyed = keyedAll
        .join(sizes.filter(col("block_n") <= cap), Seq("blk", "bv"))
        .drop("block_n")
      val a = keyed.select(col(idCol).as("id_a"),
        col("simhash").as("sh_a"), col("blk"), col("bv"))
      val b = keyed.select(col(idCol).as("id_b"),
        col("simhash").as("sh_b"), col("blk"), col("bv"))
      // hamming BEFORE distinct: the popcount is a per-row map over the
      // streaming join output, so the distinct's hash state holds only
      // genuine near-dup pairs — not every block-collision pair
      a.join(b, Seq("blk", "bv"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          popcount(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
    case None =>
      val pinned = fps.select(col(idCol), col("simhash"))
        .transform(graft.core.StateTable.pin)
      val fpPairs = fingerprintPairs(
        pinned.select(col("simhash")).distinct(), maxHamming, totalBits)
      val cross = fpPairs
        .join(pinned.select(col(idCol).as("__ia"),
          col("simhash").as("sh_a")), Seq("sh_a"))
        .join(pinned.select(col(idCol).as("__ib"),
          col("simhash").as("sh_b")), Seq("sh_b"))
        .select(least(col("__ia"), col("__ib")).as("id_a"),
          greatest(col("__ia"), col("__ib")).as("id_b"), col("hamming"))
      val intra = pinned.select(col(idCol).as("id_a"), col("simhash"))
        .join(pinned.select(col(idCol).as("id_b"), col("simhash")),
          Seq("simhash"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          lit(0).cast("int").as("hamming"))
      cross.unionByName(intra)
  }

  /** Exact near-pair search over DISTINCT fingerprints via two-block
    * agreement: `maxHamming + 2` blocks, candidates from equi-joins on
    * ordered block PAIRS (bi < bj, both values equal) — any fingerprint
    * pair within the Hamming bound flips bits in at most `maxHamming`
    * blocks and so agrees on at least two, making recall total; a pair
    * agreeing on g blocks is matched C(g,2) times and deduped at the
    * FINGERPRINT level (state = genuine fp pairs, never doc pairs).
    * The last block absorbs the remainder bits; values are extracted
    * with an UNSIGNED shift so a set sign bit (xxhash64 fingerprints)
    * cannot smear across keys. */
  private[dedup] def fingerprintPairs(
      distinctFps: DataFrame, maxHamming: Int,
      totalBits: Int): DataFrame = {
    val blocks = maxHamming + 2
    val bits = totalBits / blocks
    def bv(b: Int): Column =
      if (b == blocks - 1) shiftrightunsigned(col("simhash"), b * bits)
      else shiftrightunsigned(col("simhash"), b * bits)
        .bitwiseAND((1L << bits) - 1)
    val combos = for {
      i <- 0 until blocks; j <- i + 1 until blocks
    } yield struct(lit(i).as("bi"), lit(j).as("bj"),
      bv(i).as("vi"), bv(j).as("vj"))
    val keyed = distinctFps
      .select(col("simhash"), explode(array(combos: _*)).as("c"))
      .select(col("simhash"), col("c.bi").as("bi"), col("c.bj").as("bj"),
        col("c.vi").as("vi"), col("c.vj").as("vj"))
    val a = keyed.select(col("simhash").as("sh_a"), col("bi"), col("bj"),
      col("vi"), col("vj"))
    val b = keyed.select(col("simhash").as("sh_b"), col("bi"), col("bj"),
      col("vi"), col("vj"))
    a.join(b, Seq("bi", "bj", "vi", "vj"))
      .filter(col("sh_a") < col("sh_b"))
      .select(col("sh_a"), col("sh_b"),
        popcount(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connectivity-sufficient near-dup edge set `(id_a, id_b)` — EXACTLY
    * the connected components of [[nearDuplicates]]' full pair set, with
    * quadratically fewer edges. Two exact facts make the collapse safe:
    * hamming distance is a pure function of the FINGERPRINTS, so
    * (1) docs sharing a fingerprint are pairwise near-dups (distance 0)
    * — a star from the group's min id carries identical connectivity to
    * the group's clique — and (2) if ANY member of fingerprint group A
    * pairs with ANY member of group B, every cross pair holds, so ONE
    * representative edge carries the A↔B connectivity. The edge set is
    * therefore (rep, member) stars within identical-fingerprint groups
    * plus the block join over DISTINCT fingerprints only.
    *
    * This is the clustering-scale fix for dup-heavy corpora: a
    * duplicate family of s docs contributes s−1 star edges instead of
    * s(s−1)/2 pairs, and the block self-join's n² term shrinks from
    * docs-per-block to distinct-fingerprints-per-block. Measured at the
    * 30× ScaleUp corpus (150k docs): 108.5M pairs → the star+rep form
    * (SCALE.md round 8). Use for [[graft.dedup.Clusters]] component
    * work (q145/q148); [[nearDuplicates]] remains the per-pair listing
    * (q47's contract, where every pair IS the answer). */
  def componentEdges(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      tokenHash: Column => Column = xxhash64(_), totalBits: Int = 64,
      hashDistinct: Boolean = false,
      maxBlockSize: Option[Int] = None): DataFrame = {
    val fps = fingerprints(docs, idCol, textCol, tokenHash, totalBits,
        hashDistinct)
      .transform(graft.core.StateTable.pin)
    val groups = fps.groupBy(col("simhash")).agg(min(col(idCol)).as("rep"))
      .transform(graft.core.StateTable.pin)
    val intra = fps.join(groups, Seq("simhash"))
      .filter(col(idCol) =!= col("rep"))
      .select(col("rep").as("id_a"), col(idCol).as("id_b"))
    val cross = pairsOfFingerprints(
        groups.select(col("rep").as(idCol), col("simhash")),
        idCol, maxHamming, totalBits, maxBlockSize)
      .select(col("id_a"), col("id_b"))
    intra.unionByName(cross)
  }
}
