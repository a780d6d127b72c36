package graft.dedup

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Planted-duplicate tests for MinHash+LSH and SimHash: exact semantics on
  * corpora where the right answer is known by construction. */
class DedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val baseText = (1 to 60).map(i => s"tok$i").mkString(" ")
  // 90%-overlapping variant: last 6 tokens replaced
  private val nearText = ((1 to 54).map(i => s"tok$i") ++
    (1 to 6).map(i => s"other$i")).mkString(" ")
  // unrelated text, disjoint vocabulary
  private val farText = (1 to 60).map(i => s"zzz$i").mkString(" ")

  test("MinHash finds planted near-duplicate, skips unrelated doc") {
    val d = docs(1L -> baseText, 2L -> nearText, 3L -> farText)
    val pairs = MinHash.nearDuplicates(d, "doc_id", "text",
      shingleLen = 3, numPerms = 32, bands = 8, threshold = 0.5)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val j = pairs.head.getAs[Double]("jaccard")
    // 52 shared 3-shingles of 58 each → jaccard 52/64
    assert(j > 0.7 && j < 0.9, s"jaccard $j")
  }

  test("MinHash exact duplicate has jaccard 1.0") {
    val d = docs(1L -> baseText, 2L -> baseText)
    val pairs = MinHash.nearDuplicates(d, "doc_id", "text", threshold = 0.99)
      .collect()
    assert(pairs.length == 1 && pairs.head.getAs[Double]("jaccard") == 1.0)
  }

  test("SimHash: identical docs at hamming 0, near docs within bound, far docs out") {
    val d = docs(1L -> baseText, 2L -> baseText, 3L -> farText)
    val fps = SimHash.fingerprints(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L), "identical text → identical fingerprint")
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(3L)) > 10,
      "disjoint vocab → distant fingerprints")
    val pairs = SimHash.nearDuplicates(d, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("SimHash block bound drops degenerate blocks instead of exploding") {
    // 30 identical docs: every one of the 4 pigeonhole blocks is a single
    // degenerate 30-doc value → 435 candidate pairs uncapped
    val hot = docs((1L to 30L).map(i => i -> baseText): _*)
    assert(SimHash.nearDuplicates(hot, "doc_id", "text").count() == 435)
    // cap 10 drops all four oversized blocks → no candidates, no blowup
    assert(SimHash.nearDuplicates(hot, "doc_id", "text",
      maxBlockSize = Some(10)).count() == 0)
    // a cap above the block sizes changes nothing (recall stays total)
    val mixed = docs(1L -> baseText, 2L -> baseText, 3L -> farText)
    val uncapped = SimHash.nearDuplicates(mixed, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = SimHash.nearDuplicates(mixed, "doc_id", "text",
        maxBlockSize = Some(1000))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped && capped == Set((1L, 2L)))
  }

  test("LSH bucket bound drops degenerate buckets instead of exploding") {
    // 50 identical docs → one bucket of 50; cap at 10 suppresses the
    // quadratic blowup and yields no candidates
    val d = docs((1L to 50L).map(i => i -> baseText): _*)
    val sh = MinHash.shingles(d, "doc_id", "text", 3)
    val sigs = MinHash.signatures(sh, "doc_id", 32)
    val cands = MinHash.candidates(sigs, "doc_id", 32, 8, maxBucketSize = 10)
    assert(cands.count() == 0)
  }

  test("planted-pair recall at an s-curve~1 operating point (b=8, r=4)") {
    // With 32 perms in 8 bands of 4 rows, P(candidate) = 1-(1-s^4)^8 —
    // ≈1-2e-8 at the planted similarity s = 59/61 ≈ 0.967, so recall over
    // the planted set must be exactly 1 at this operating point. Decoys
    // are built at s = 47/73 ≈ 0.644: close enough that banding often
    // surfaces them (P≈0.76), yet below the 0.7 threshold, so the exact
    // verify step must drop every one. Construction: 62 tokens → 60
    // 3-shingles; replacing the last m tokens changes exactly the m
    // shingles that can still start inside the tail, so jaccard =
    // (60-m)/(60+m) — m=1 plants 59/61, m=13 plants 47/73. Disjoint
    // per-cluster vocabularies zero out cross-cluster similarity.
    def toks(c: Int) = (1 to 62).map(i => s"c${c}_$i")
    val rows = (0 until 10).flatMap { c =>
      val base = toks(c)
      Seq(
        (c.toLong, base.mkString(" ")),
        (c + 100L, (base.dropRight(1) :+ s"c${c}_x").mkString(" ")),
        (c + 200L, (base.dropRight(13) ++
          (1 to 13).map(i => s"c${c}_y$i")).mkString(" ")))
    }
    val d = docs(rows: _*)
    val got = MinHash.nearDuplicates(d, "doc_id", "text",
        shingleLen = 3, numPerms = 32, bands = 8, threshold = 0.7)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val planted = (0 until 10).map(c => (c.toLong, c + 100L)).toSet
    assert(planted.subsetOf(got.keySet),
      s"recall < 1: missed ${planted -- got.keySet}")
    assert(got.keySet == planted,
      s"false positives past verify: ${got.keySet -- planted}")
    got.values.foreach(j => assert(math.abs(j - 59.0 / 61) < 1e-9,
      s"planted similarity must be exactly 59/61, got $j"))

    // brute force confirms the planted set IS the ground truth at 0.7
    val sh = MinHash.shingles(d, "doc_id", "text", 3)
    val ids = d.select(col("doc_id")).distinct()
    val allPairs = ids.select(col("doc_id").as("id_a"))
      .crossJoin(ids.select(col("doc_id").as("id_b")))
      .filter(col("id_a") < col("id_b"))
    val exact = MinHash.verify(allPairs, sh, "doc_id")
      .filter(col("jaccard") >= 0.7)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == planted,
      "brute force agrees the planted set is the whole truth")
  }

  /** A varied corpus with planted near-dup clusters and deterministic
    * "random" filler for the differential tests. */
  private def variedCorpus: org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(11)
    def text(vocabId: Int) =
      (1 to 40).map(_ => s"w${vocabId}_${rnd.nextInt(30)}").mkString(" ")
    val originals = (0 until 20).map(i => (i.toLong, text(i % 4)))
    val mutated = originals.take(6).map { case (id, t) =>
      val toks = t.split(" ")
      (id + 100, (toks.dropRight(3) ++ Seq("x1", "x2", "x3")).mkString(" "))
    }
    docs(originals ++ mutated: _*)
  }

  test("incremental near-dup equals the full recompute restricted to " +
      "batch-touching pairs, and finds batch-internal pairs") {
    import spark.implicits._
    // corpus: base + a far doc; batch: a near-dup of the corpus base AND
    // an internal near-dup pair within the batch itself
    val corpus = docs(1L -> baseText, 2L -> farText)
    val batch = docs(10L -> nearText, 11L -> baseText, 12L -> nearText)
    val idx = MinHash.buckets(
      MinHash.signatures(
        MinHash.shingles(corpus, "doc_id", "text", 3), "doc_id", 32),
      "doc_id", 32, 8)
    val inc = MinHash.incrementalNearDuplicates(
        batch, corpus, idx, "doc_id", "text",
        shingleLen = 3, numPerms = 32, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val full = MinHash.nearDuplicates(
        corpus.unionByName(batch), "doc_id", "text",
        shingleLen = 3, numPerms = 32, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .filter(p => p._1 >= 10 || p._2 >= 10).toSet // touching the batch
    assert(inc == full, s"incremental $inc vs restricted full $full")
    assert(inc.contains((1L, 11L)), "batch x corpus exact dup found")
    assert(inc.contains((10L, 12L)), "batch-internal pair found")
    assert(!inc.exists { case (a, b) => a < 10 && b < 10 },
      "no corpus x corpus pair is ever regenerated")
    // tabled regime (gate 1 forces staged shingle/candidate state):
    // output-identical on both the batch and incremental paths
    val incT = withGate(1L)(MinHash.incrementalNearDuplicates(
        batch, corpus, idx, "doc_id", "text",
        shingleLen = 3, numPerms = 32, bands = 8, threshold = 0.5))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(incT == inc, "tabled incremental regime diverged")
    val fullT = withGate(1L)(MinHash.nearDuplicates(
        corpus.unionByName(batch), "doc_id", "text",
        shingleLen = 3, numPerms = 32, bands = 8, threshold = 0.5))
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .filter(p => p._1 >= 10 || p._2 >= 10).toSet
    assert(fullT == full, "tabled batch regime diverged")
  }

  test("incremental verify joins plan as sort-merge, never a static " +
    "broadcast build of the pair-driven sides") {
    // the 4 GiB probe at 30x: the planner's static estimate of the
    // candidate-shingle frames guessed small, hard-coded broadcast
    // builds, and died building them — their true size is candidate-
    // driven and unknowable statically, so the plan must keep them
    // shuffle-side (spillable); only AQE may downgrade from runtime
    // stats it actually measured
    val corpus = variedCorpus
    val batch = docs((200L, corpus.collect()(0).getString(1)))
    val idx = MinHash.buckets(
      MinHash.signatures(
        MinHash.shingles(corpus, "doc_id", "text", 3), "doc_id", 32),
      "doc_id", 32, 8)
    // the end-to-end result is PINNED (the measured-width ScopedConf
    // needs the body to end in an action), so its plan is an RDD scan —
    // the plan-shape contract is checked on the same verify composition
    // incrementalNearDuplicates builds, merge hints and all
    val newBk = MinHash.buckets(
      MinHash.signatures(
        MinHash.shingles(batch, "doc_id", "text", 3), "doc_id", 32),
      "doc_id", 32, 8)
    // pin both frames first, as incrementalNearDuplicates does — the pin
    // is what removes the planner's small static estimate (a raw local
    // fixture would legitimately broadcast); the hint must hold WITH the
    // production frame shape
    val cands = MinHash.incrementalCandidates(newBk, idx, "doc_id")
      .transform(graft.core.StateTable.pin)
    val sh = MinHash.shingles(
        corpus.unionByName(batch), "doc_id", "text", 3)
      .transform(graft.core.StateTable.pin)
    val v = MinHash.verify(cands.hint("merge"), sh.hint("merge"), "doc_id")
    // the pre-AQE physical plan: every join at or above the verify stage
    // must be sort-merge — zero BroadcastHashJoin nodes
    val plan = v.queryExecution.sparkPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"static plan still broadcasts a pair-driven side:\n$plan")
    assert(plan.contains("SortMergeJoin"))
    // and the end-to-end incremental result is still correct
    val inc = MinHash.incrementalNearDuplicates(
      batch, corpus, idx, "doc_id", "text",
      shingleLen = 3, numPerms = 32, bands = 8, threshold = 0.5)
    assert(inc.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet.contains((0L, 200L)))
  }

  test("decontamination flags planted eval leakage and nothing else") {
    import spark.implicits._
    val evalSentence = "the quick brown fox jumps over the lazy dog"
    val train = docs(
      1L -> s"intro text $evalSentence closing remark words here",
      2L -> baseText, // clean
      3L -> s"another doc with $evalSentence inside it twice somewhere")
    val eval = docs(100L -> evalSentence)
    val flagged = Decontaminate.overlaps(
        train, eval, "doc_id", "text", n = 5)
      .select("doc_id", "eval_doc_id", "shared_ngrams")
      .as[(Long, Long, Long)].collect().toSet
    // the 9-token eval sentence has 5 distinct 5-grams, all present in
    // docs 1 and 3, none in doc 2
    assert(flagged == Set((1L, 100L, 5L), (3L, 100L, 5L)))
    val drop = Decontaminate.dropList(
        train, eval, "doc_id", "text", n = 5, minShared = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(drop == Set(1L, 3L))
    intercept[IllegalArgumentException](
      Decontaminate.overlaps(train, eval, "doc_id", "text", n = 0))
  }

  test("PII redaction replaces emails, phones, and IPs with placeholders") {
    import spark.implicits._
    val out = Seq(
      (1L, "mail a.b+c@ex-ample.org then (555) 123-4567 via 10.0.0.1 end"),
      (2L, "clean text with digits 123 and a dot. nothing else"),
      (3L, "two mails x@y.io z@w.co and 555 123 4567"))
      .toDF("doc_id", "t")
      .select(col("doc_id"),
        graft.operators.TextRedact.redactPii(col("t")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "mail <EMAIL> then <PHONE> via <IP> end")
    assert(out(2L) == "clean text with digits 123 and a dot. nothing else")
    assert(out(3L) == "two mails <EMAIL> <EMAIL> and <PHONE>")
  }

  test("differential: LSH pair set equals brute-force all-pairs Jaccard") {
    val d = variedCorpus
    val lsh = MinHash.nearDuplicates(d, "doc_id", "text",
        shingleLen = 3, numPerms = 32, bands = 8, threshold = 0.3)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute force: every pair via crossJoin on the same shingles
    val sh = MinHash.shingles(d, "doc_id", "text", 3)
    val ids = d.select(col("doc_id")).distinct()
    val allPairs = ids.select(col("doc_id").as("id_a"))
      .crossJoin(ids.select(col("doc_id").as("id_b")))
      .filter(col("id_a") < col("id_b"))
    val exact = MinHash.verify(allPairs, sh, "doc_id")
      .filter(col("jaccard") >= 0.3)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "fixture must contain true near-dups")
    assert(lsh == exact,
      s"LSH must find exactly the true pairs; lsh=${lsh.keySet} exact=${exact.keySet}")
  }

  test("differential: blocked SimHash equals brute-force all-pairs Hamming") {
    val d = variedCorpus
    val blocked = SimHash.nearDuplicates(d, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2).toLong).toMap
    val fps = SimHash.fingerprints(d, "doc_id", "text")
    val brute = fps.select(col("doc_id").as("id_a"), col("simhash").as("ha"))
      .crossJoin(fps.select(col("doc_id").as("id_b"), col("simhash").as("hb")))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .filter(col("hamming") <= 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2).toLong).toMap
    assert(brute.nonEmpty, "fixture must contain close fingerprints")
    assert(blocked == brute,
      "pigeonhole blocking must have total recall within the bound")
  }

  test("codegen StringPolyHash62 equals the declarative fold exactly") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(3)
    val toks = (1 to 500).map(_ =>
      rnd.alphanumeric.take(1 + rnd.nextInt(20)).mkString) :+ "" :+ "a"
    val df = toks.toDF("tok")
      .select(col("tok"),
        graft.functions.GraftFunctions.polyHash62(col("tok")).as("native"),
        SimHash.polyHash62(col("tok")).as("fold"))
    assert(df.filter(col("native") =!= col("fold")).count() == 0)
    // and both equal the plain-JVM reference implementation
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getLong(1) ==
        graft.functions.StringPolyHash62.hash(r.getString(0)))
    }
  }

  test("Clusters: chains close transitively, singletons stay alone") {
    import spark.implicits._
    // 1-2, 2-3 chain (1~3 only via transitivity); 5-6 island; 9 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val docs = (1L to 9L).toDF("doc_id")
    val got = Clusters.assign(docs, "doc_id", pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got(1L) == ((1L, 3L, true)) && got(2L) == ((1L, 3L, false)) &&
      got(3L) == ((1L, 3L, false)), s"chain: $got")
    assert(got(5L) == ((5L, 2L, true)) && got(6L) == ((5L, 2L, false)))
    assert(got(9L) == ((9L, 1L, true)))
    // reversed orientation must give the same components
    val rev = Seq((2L, 1L), (3L, 2L), (6L, 5L)).toDF("id_a", "id_b")
    val got2 = Clusters.assign(docs, "doc_id", rev).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 9L).forall(i => got2(i) == got(i)._1))
    // pairs referencing ids ABSENT from docs (batch deduped against a
    // wider corpus): the cluster must still keep one PRESENT member, not
    // silently drop everyone because the graph's min id isn't here
    val batch = Seq(2L, 3L, 9L).toDF("doc_id")
    val keptB = Clusters.keepCanonical(batch, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(keptB == Set(2L, 9L), s"min PRESENT member kept: $keptB")
  }

  test("Clusters: each call leaves pinned only what its answer reads") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    // label propagation: the final labels; star: the node set and the
    // final edge set
    val (_, propLeft, propRead) =
      pinsLeft(Clusters.connectedComponents(pairs, "id_a", "id_b"))
    assert(propRead.size == 1 && propLeft == propRead, s"$propLeft")
    val (_, starLeft, starRead) =
      pinsLeft(Clusters.connectedComponentsStar(pairs, "id_a", "id_b"))
    assert(starRead.size == 2 && starLeft == starRead, s"$starLeft")
  }

  test("Clusters: randomized graph matches in-test union-find") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 60
    val edges = (1 to 80).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // reference union-find
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val got = Clusters.assign(
        (0L until n.toLong).toDF("doc_id"), "doc_id",
        edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // keepCanonical keeps exactly one row per component
    val kept = Clusters.keepCanonical(
        (0L until n.toLong).toDF("doc_id"), "doc_id",
        edges.toDF("id_a", "id_b"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == want.values.toSet)
    // keepBest keeps the HIGHEST-scoring member per component (score =
    // doc_id here, so the max id replaces the min id for every
    // multi-member cluster) and exactly one row per component overall
    val bestWant = (0 until n).groupBy(i => want(i.toLong))
      .values.map(_.max.toLong).toSet
    val best = Clusters.keepBest(
        (0L until n.toLong).map(i => (i, i)).toDF("doc_id", "score"),
        "doc_id", "score", edges.toDF("id_a", "id_b"))
      .collect().map(_.getLong(0)).toSet
    assert(best == bestWant)
  }

  test("star CC: long chain converges far under diameter rounds") {
    import spark.implicits._
    // a 257-node path (diameter 256): min-label propagation would need
    // 256 rounds — the star variant must land the whole chain on node 0
    // within its default O(log² n) budget (30), which propagation's own
    // default (25) provably cannot
    val chain = (0L until 256L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Clusters.connectedComponents(chain, "id_a", "id_b")
    }
    val got = Clusters.connectedComponentsStar(chain, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 257 && got.values.forall(_ == 0L), s"${got.size}")
  }

  test("star CC equals label propagation on near-dup-shaped graphs") {
    import spark.implicits._
    // near-dup shape: small dense clusters (boilerplate variants) plus
    // sparse bridge edges, random orientation, plus an isolated pair
    val rnd = new scala.util.Random(7)
    val clusters = Seq(0L until 6L, 10L until 13L, 20L until 28L)
    val dense = clusters.flatMap(c =>
      c.combinations(2).filter(_ => rnd.nextBoolean()).map(p => (p(0), p(1))))
    val edges = (dense ++ Seq((5L, 10L), (100L, 101L)))
      .map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
      .toDF("id_a", "id_b")
    val prop = Clusters.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => (r.get(0), r.get(1))).toSet
    val star = Clusters.connectedComponentsStar(edges, "id_a", "id_b")
      .collect().map(r => (r.get(0), r.get(1))).toSet
    assert(star == prop, s"star $star\nprop $prop")
  }

  test("star CC: randomized graphs match in-test union-find") {
    import spark.implicits._
    // three seeds × (sparse chain-y, dense clique-y) shapes — star must
    // agree with a plain-JVM union-find on every assignment
    for (seed <- Seq(3, 17, 42); m <- Seq(30, 120)) {
      val rnd = new scala.util.Random(seed)
      val n = 50
      val edges = (1 to m)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val present = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val want = present.map(i => i -> find(i.toInt).toLong).toMap
      val got = Clusters.connectedComponentsStar(
          edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed=$seed m=$m")
    }
  }

  test("star CC: string ids, self-loops, single edge, empty input") {
    import spark.implicits._
    val e = Seq(("b", "c"), ("c", "a"), ("d", "d"), ("x", "y"))
      .toDF("id_a", "id_b")
    val got = Clusters.connectedComponentsStar(e, "id_a", "id_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // self-loop (d,d) contributes no component; a-b-c collapse to "a"
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"), s"$got")
    val empty = Clusters.connectedComponentsStar(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b")
    assert(empty.count() == 0)
  }

  test("polyHash62 votes match xxhash64 pipeline shape and are stable") {
    val d = docs(1L -> baseText, 2L -> baseText, 3L -> farText)
    val fps = SimHash.fingerprints(d, "doc_id", "text",
        tokenHash = SimHash.polyHash62, bits = 62).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
    assert((0 to 2).forall(i => (fps.values.toSeq(i) >>> 62) == 0),
      "polyHash62 fingerprints use only the low 62 bits")
  }

  test("componentEdges yields the same components as the full pair " +
    "set, with fewer edges on dup families") {
    import spark.implicits._
    // three exact-dup families (identical token multisets), one near
    // family (small edits), singletons — the dup-heavy corpus shape
    val docs = (
      (1 to 6).map(i => (i.toLong, "alpha beta gamma delta epsilon")) ++
      (11 to 14).map(i => (i.toLong, "one two three four five six")) ++
      Seq(
        (21L, "alpha beta gamma delta zeta"), // near family 1's fp
        (31L, "totally different content here entirely"),
        (32L, "unrelated words nothing shared anywhere"))
      ).toDF("doc_id", "text")
    def comps(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Clusters.assign(docs, "doc_id", pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = SimHash.nearDuplicates(docs, "doc_id", "text",
      maxHamming = 6, tokenHash = SimHash.polyHash62, totalBits = 62,
      hashDistinct = true)
    val edges = SimHash.componentEdges(docs, "doc_id", "text",
      maxHamming = 6, tokenHash = SimHash.polyHash62, totalBits = 62,
      hashDistinct = true)
    assert(comps(edges) === comps(full))
    val nFull = full.count()
    val nEdges = edges.count()
    assert(nEdges < nFull,
      s"star+rep form should shrink the edge set ($nEdges vs $nFull)")
    // family of 6 identical docs: 5 star edges, not C(6,2)=15 pairs
    val intraFam1 = edges.filter(col("id_a") === 1L &&
      col("id_b").between(2L, 6L)).count()
    assert(intraFam1 === 5L)
  }
}
